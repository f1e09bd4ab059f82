"""Deduplication family over the ``documents`` table — the training-data
pipeline surface (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Design notes for 100 TB:
- exact dedup is a hash-groupBy on a fingerprint column — partial aggregation
  + AQE handle skew; the fingerprint (md5 of normalized text) is computed
  scan-side so only 16 bytes shuffle per row, never the text.
- MinHash signatures use portable primitives (min over md5(salt||shingle))
  so the DuckDB oracle can replay them bit-for-bit; the xxhash64 mode is
  the cheaper production hash with the same banding. Candidates are the
  docs grouped on (band, band_key), a shuffle on a uniformly-distributed
  key with oversize buckets skipped — no N² comparison anywhere.
- n-gram Jaccard and SimHash co-locate postings by shingle or by
  (segment, segment value) and enumerate the capped in-group pairs in one
  Arrow pass (``_ingroup_pairs``); n-gram pair counts aggregate before
  the similarity filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint
from ..sources.tables import sort_once, spread as _spread


def _pairs_from_ids(ids_col) -> F.Column:
    """All ordered pairs (id_a < id_b) from a group's id list, generated
    JVM-side: sort once, pair each element with its successors. Bounded by
    the caller's group-size cap — this replaces a self-join, so the
    grouped subtree is evaluated ONCE instead of once per join branch."""
    s = F.array_sort(ids_col)
    return F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + F.lit(2), F.size(s)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _bounded_group_pairs(grp: DataFrame, keys: list[str], max_group: int | None) -> DataFrame:
    """One row per in-group pair ``p = (id_a, id_b)`` from a grouped frame
    carrying an ``ids`` array column.

    With a cap: oversize groups are skipped whole, then pairs come from the
    collected list — the upstream pipeline is evaluated ONCE and the pair
    mass per row is bounded by cap²/2. Without a cap the flatten would
    materialize a degenerate group's quadratic pair set inside a single
    row buffer (executor OOM), so the uncapped path explodes back to rows
    and self-joins on the group key instead: pairs spread across shuffle
    partitions, at the cost of evaluating the grouped subtree once per
    join branch. Uncapped is for bounded fixtures/tests; production paths
    keep their caps."""
    if max_group is not None:
        g = grp.filter((F.size("ids") >= 2) & (F.size("ids") <= max_group))
        return g.select(F.explode(_pairs_from_ids(F.col("ids"))).alias("p"))
    ex = grp.filter(F.size("ids") >= 2).select(*keys, F.explode("ids").alias("x"))
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, keys)
        .filter(F.col("a.x") < F.col("b.x"))
        .select(F.struct(F.col("a.x").alias("id_a"), F.col("b.x").alias("id_b")).alias("p"))
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: one row per distinct normalized-text
    fingerprint with the group size and the representative (min id) —
    the content-addressed 'skip if digest exists' semantics of
    cc/warc/Extractor.java:104-108,159-162 as a relational op."""
    return (
        _spread(docs.select(F.col(text_col), F.col(id_col)))
        .select(doc_fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("rep_id"))
        .orderBy("fp")
    )


def _arrow_shingles(
    docs: DataFrame, n: int, text_col: str, id_col: str, with_size: bool
) -> DataFrame:
    """Distinct n-token shingle postings, built in ONE Arrow pass.

    Tokenization stays in the JVM (``split(lower(trim(text)), '\\s+')``,
    codegen'd, exactly the reference/oracle semantics for trim and Java
    ``\\s``); the n-gram construction and per-doc distinct move to
    pyarrow/numpy (round 6, guide §4.2). The previous JVM chain ran the
    higher-order ``transform`` + ``concat_ws(slice(...))`` + an
    ``array_distinct`` + a Generate — Catalyst evaluates higher-order
    lambdas interpreted, measured ~60 task-seconds at sf1.0 vs ~1 s
    single-threaded for the Arrow kernels (split_pattern is not used, so
    no regex-dialect risk). Docs shorter than n tokens emit no shingles,
    as before. Each input row is one whole document, so per-batch
    processing keeps doc postings contiguous within their partition —
    the invariant the minhash signature fold relies on. Posting ORDER
    within a doc becomes sorted-first-occurrence instead of text order;
    no consumer is order-sensitive (mins, groupBys, pair generation).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    id_t = docs.schema[id_col].dataType.simpleString()
    toks_df = _spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
    )

    def gen(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            ids = rb.column(0)
            toks = rb.column(1)
            off = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = toks.values
            lens = np.diff(off)
            m = np.maximum(lens - (n - 1), 0)
            total = int(m.sum())
            if not total:
                continue
            # global start index of every shingle window, via index ramps
            base = np.repeat(off[:-1], m)
            ramp = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(m) - m, m
            )
            starts = base + ramp
            parts = [vals.take(pa.array(starts + k)) for k in range(n)]
            sh = pc.binary_join_element_wise(*parts, " ")
            # per-doc distinct: one packed (row, shingle_code) unique —
            # both factors are far below 2^31 within a batch
            seg = np.repeat(np.arange(rb.num_rows, dtype=np.int64), m)
            ci = (
                sh.dictionary_encode()
                .indices.to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            uk, first_idx = np.unique((seg << 32) | ci, return_index=True)
            useg = (uk >> 32).astype(np.int64)
            cols = [ids.take(pa.array(useg))]
            if with_size:
                # uk is sorted, so each doc's postings are a contiguous
                # run; its length is the doc's distinct-shingle count
                rs = np.flatnonzero(np.r_[True, useg[1:] != useg[:-1]])
                cnts = np.diff(np.r_[rs, useg.size]).astype(np.int32)
                cols.append(pa.array(np.repeat(cnts, cnts)))
            cols.append(sh.take(pa.array(first_idx)))
            names = [id_col, "sz", "shingle"] if with_size else [id_col, "shingle"]
            yield pa.record_batch(cols, names=names)

    schema = (
        f"{id_col} {id_t}, sz int, shingle string"
        if with_size
        else f"{id_col} {id_t}, shingle string"
    )
    return toks_df.mapInArrow(gen, schema)


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct n-token shingles per document (lowercased, whitespace
    tokens) — JVM tokenize, Arrow shingle+distinct (see _arrow_shingles)."""
    return _arrow_shingles(docs, n, text_col, id_col, with_size=False)


def minhash_lsh_candidates(
    docs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = 256,
    hash_mode: str = "md5",
) -> DataFrame:
    """LSH candidate pairs: band the signature (rows_per_band = n/bands),
    concat each band's sigs into one key, equi-join docs sharing a
    (band_id, band_key). Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_band_bucket`` bounds the self-join: a degenerate band_key (empty
    or boilerplate docs sharing a signature) would otherwise make one
    bucket quadratic — 10^6 docs sharing a key is 10^12 pairs from a
    single bucket at web scale. Buckets above the cap are skipped whole
    (deterministic, oracle-mirrorable); a true near-dup pair in a skipped
    bucket usually still collides in another band's smaller bucket, and a
    >max_band_bucket-sized identical pile belongs to exact dedup anyway."""
    rows_per_band = n_hashes // bands
    if hash_mode == "md5":
        # round 6: signatures AND banding for the md5 (oracle) mode fuse
        # into ONE shuffle-free Arrow pass over the shingle explode
        # (guide §4.2/§2.4). Explode keeps each doc's shingles contiguous
        # within its partition, so per-doc minima need no groupBy shuffle;
        # each task md5-hashes every DISTINCT shingle once (dict cache —
        # the corpus vocabulary repeats heavily) instead of the JVM
        # hashing all 9 digests per posting row, and emits the
        # (doc, band, band_key) rows directly. hashlib hexdigest is
        # byte-identical to Spark's md5(), Python sorted() on ASCII hex
        # equals array_sort's UTF8 ordering, so band keys — and the DuckDB
        # oracle replay — are unchanged (selfcheck + pytest-pinned).
        import hashlib

        import numpy as np
        import pyarrow as pa

        sh = shingles(docs, shingle_n, text_col, id_col)
        id_t = docs.schema[id_col].dataType.simpleString()
        nh, rpb, nb = n_hashes, rows_per_band, bands

        def sig_bands(batches):
            ids_l, sh_l = [], []
            for rb in batches:
                if rb.num_rows:
                    ids_l.append(rb.column(0).to_numpy(zero_copy_only=False))
                    sh_l.append(rb.column(1))
            if not ids_l:
                return
            ids = np.concatenate(ids_l)
            # Python touches only the DISTINCT shingles (the Arrow
            # dictionary), never the posting rows: the previous version
            # to_pylist'ed every posting and ran a per-posting Python
            # min-loop (8 tuple compares × millions of rows); everything
            # per-posting below is numpy (round 6, guide §4.2)
            dic = pa.chunked_array(sh_l).combine_chunks().dictionary_encode()
            codes = dic.indices.to_numpy(zero_copy_only=False)
            vocab = dic.dictionary.to_pylist()
            # 9 md5 hexdigests per distinct shingle; lowercase-hex order
            # == byte order of the hex string itself, so the S32 array
            # doubles as the exact sort key for the vectorized min below
            # (no per-digest int conversions)
            sig_s = np.empty((len(vocab), nh), dtype="S32")
            for vi, s in enumerate(vocab):
                h0 = hashlib.md5(s.encode("utf-8")).hexdigest()
                for k in range(nh):
                    sig_s[vi, k] = hashlib.md5((str(k) + h0).encode()).hexdigest()
            # doc segments: explode preserves input-row order, so each
            # doc's postings are one contiguous run (same assumption the
            # previous per-row loop relied on)
            seg_bounds = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
            seg_sizes = np.diff(np.r_[seg_bounds, ids.size])
            seg = np.repeat(
                np.arange(seg_bounds.size, dtype=np.int32), seg_sizes
            )
            doc_ids = ids[seg_bounds]
            # exact per-doc min of each hash column: stable sort by
            # (doc, hex-digest bytes) leaves every doc block's minimum at
            # the block start, which sits at the same offset seg_bounds[d]
            # because block sizes are unchanged by the permutation
            ps = sig_s[codes]
            mins_s = np.empty((doc_ids.size, nh), dtype="S32")
            for k in range(nh):
                order = np.lexsort((ps[:, k], seg))
                mins_s[:, k] = ps[order[seg_bounds], k]
            # band keys: sort the band's hex strings (bytes sort == the
            # UTF8/ASCII order Python sorted() used) and comma-join with
            # numpy byte-string concat — no per-doc Python
            key_cols = []
            for b in range(nb):
                blk = np.sort(mins_s[:, b * rpb:(b + 1) * rpb], axis=1)
                key = blk[:, 0]
                for r in range(1, rpb):
                    key = np.char.add(np.char.add(key, b","), blk[:, r])
                key_cols.append(key)
            out_id = np.repeat(doc_ids, nb)
            out_band = np.tile(np.arange(nb, dtype=np.int32), doc_ids.size)
            out_key = np.stack(key_cols, axis=1).ravel()
            yield pa.record_batch(
                [
                    pa.array(out_id),
                    pa.array(out_band, type=pa.int32()),
                    pa.array(out_key).cast(pa.string()),
                ],
                names=[id_col, "band", "band_key"],
            )

        banded = sh.mapInArrow(
            sig_bands, f"{id_col} {id_t}, band int, band_key string"
        )
    else:
        # round 6: band keys come straight from the per-doc min COLUMNS —
        # the previous shape exploded mins to (id, salt, sig) rows and
        # re-grouped by (id, band) with collect_list to reassemble values
        # that were already columns of one row. No exchange was saved
        # (hash-partitioning by id already satisfied the (id, band)
        # clustering) but the explode plus the partial+final
        # ObjectHashAggregate collect_list passes are gone (plan: 2 fewer
        # aggregate nodes; noop 0.605 → 0.542 s at sf0.1). Same keys:
        # array_sort over the band's LONG sigs is the same numeric order
        # collect_list+array_sort produced, then stringified for the
        # concat key (band_key equality is all that matters). Output
        # pairs verified identical at sf0.1 (730 pairs, frame-equal).
        base = shingles(docs, shingle_n, text_col, id_col).select(
            F.col(id_col), F.xxhash64("shingle").alias("h0")
        )
        hashed = base.select(
            F.col(id_col),
            *[F.xxhash64(F.lit(s), F.col("h0")).alias(f"h{s}") for s in range(n_hashes)],
        )
        mins = hashed.groupBy(id_col).agg(
            *[F.min(f"h{s}").alias(f"m{s}") for s in range(n_hashes)]
        )
        # one parsed SQL string instead of ~50 nested Column calls — same
        # Catalyst tree, ~0.1 s less driver time per construction (the
        # same py4j-round-trip economy simhash64 applies)
        band_structs = F.expr(
            "array("
            + ", ".join(
                "struct({b} AS band, concat_ws(',', transform(array_sort(array({ms})),"
                " x -> cast(x as string))) AS band_key)".format(
                    b=b,
                    ms=", ".join(
                        f"m{b * rows_per_band + r}" for r in range(rows_per_band)
                    ),
                )
                for b in range(bands)
            )
            + ")"
        )
        banded = mins.select(F.col(id_col), F.explode(band_structs).alias("x")).select(
            id_col, F.col("x.band").alias("band"), F.col("x.band_key").alias("band_key")
        )
    grp = banded.groupBy("band", "band_key").agg(
        F.collect_list(id_col).alias("ids")
    )
    # pairs generated from the grouped list when capped — evaluates the
    # shingle→md5→band pipeline ONCE (a self-join's two branches run it
    # twice); uncapped mode self-joins so pairs never pile into one row
    return (
        _bounded_group_pairs(grp, ["band", "band_key"], max_band_bucket)
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


_INT32_MAX = 2**31 - 1


def _check_pair_width(n_pairs: int, unit: int) -> None:
    """The Arrow pair kernels index a task's pair instances with int32
    arrays, and ``ngram_jaccard_pairs`` packs them behind int32 Arrow
    offsets of ``unit`` bytes (or list elements) per pair. Refuse, instead
    of wrapping to wrong pairs, once ``n_pairs * unit`` passes 2^31 - 1."""
    if int(n_pairs) * unit > _INT32_MAX:
        raise OverflowError(
            f"dedup pair kernel: one task generated {int(n_pairs):,} pair "
            f"instances; at {unit} per pair that passes the int32 offset "
            f"limit of {_INT32_MAX:,}. Raise spark.sql.shuffle.partitions "
            "or lower the group cap (max_doc_freq, max_segment_bucket)."
        )


def _ingroup_pairs(keys_sorted, cap: int | None):
    """Every in-group index pair ``(a, b)``, ``a < b``, of a sorted key
    array, as two int32 arrays. Groups (runs of equal keys) with fewer
    than 2 rows, or more than ``cap`` rows, are skipped whole.

    One vectorized ramp, no per-group Python: element ``g`` at position
    ``j`` of a kept group of size ``n`` pairs as ``a`` with the
    ``n - 1 - j`` elements after it."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, keys_sorted[1:] != keys_sorted[:-1]])
    sizes = np.diff(np.r_[starts, keys_sorted.size])
    keep = sizes >= 2 if cap is None else (sizes >= 2) & (sizes <= cap)
    starts = starts[keep].astype(np.int32)
    sizes = sizes[keep].astype(np.int32)
    _check_pair_width((sizes.astype(np.int64) * (sizes - 1) // 2).sum(), 1)
    pos = np.arange(sizes.sum(), dtype=np.int32) - np.repeat(
        np.cumsum(sizes, dtype=np.int32) - sizes, sizes
    )
    gidx = np.repeat(starts, sizes) + pos
    cnt = np.repeat(sizes, sizes) - 1 - pos
    a_idx = np.repeat(gidx, cnt)
    run_start = np.cumsum(cnt, dtype=np.int32) - cnt
    b_idx = np.arange(a_idx.size, dtype=np.int32) - np.repeat(run_start, cnt) + a_idx + 1
    return a_idx, b_idx


def _shingles_sized(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, sz, shingle) rows where ``sz`` is the doc's distinct-shingle
    count — JVM tokenize, Arrow shingle+distinct+count in one pass (see
    _arrow_shingles; the size falls out of the distinct run lengths, no
    window, no second evaluation)."""
    return _arrow_shingles(docs, n, text_col, id_col, with_size=True)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = 128,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs: co-locate postings by shingle →
    in-group pair instances → |A∩B| per pair, |A|,|B| from per-doc shingle
    counts, keep J = inter/(|A|+|B|-inter) ≥ t. No pairwise N² stage: the
    pair mass is bounded by Σ min(df, cap)² over shingles.

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents BEFORE pair generation (standard in dedup pipelines): one
    boilerplate trigram shared by 10^6 web pages is 5·10^11 pairs from a
    single key. High-DF shingles carry almost no Jaccard signal for the
    near-dup regime (they inflate both intersection and union), so the cap
    trades a bounded similarity underestimate for a bounded join. Doc
    sizes keep counting ALL shingles — J is underestimated, never
    overestimated, so the threshold stays a lower-bound guarantee.

    Plan shape (round 6 rewrite — measured 41.8 s → see
    OPTIMIZATION_r06.md at sf1.0): the previous version exploded every
    pair instance as a Spark row and hash-aggregated them — at sf1.0 that
    is 126M struct rows collapsing into 114M groups (nearly all
    intersection-1 pairs), so partial aggregation reduced nothing and the
    JVM row machinery dominated. Now both heavy stages are vectorized
    Arrow passes (guide §4.2):

    1. postings hash-partitioned by shingle; one ``mapInArrow`` task
       factorizes its shingles, generates the capped in-group pair
       instances with numpy index arithmetic, and emits them partially
       grouped by ``id_a`` as (id_a, sz_a, b_ids[], b_szs[]) array rows —
       ~50× fewer shuffle rows than one row per pair instance;
    2. rows hash-partitioned by id_a; one ``mapInArrow`` task expands its
       arrays, lexsorts by (id_b, id_a) and run-length-encodes to the
       EXACT per-pair intersection counts, then applies the provable
       necessary condition J = i/(szA+szB−i) ≤ i/max(szA,szB) ⟹
       (i ≥ t·szA−1 ∧ i ≥ t·szB−1) (the −1 slack covers float rounding of
       the final division with ~15 orders of magnitude to spare), which
       discards the intersection-1 mass before it ever becomes rows.

    The surviving candidates (a small superset of the answer) get the
    SAME exact double-division threshold test as before, in Spark — so
    the result set is identical; only where the arithmetic runs moved.
    The result sort is ``sort_once``: a bare ``orderBy`` would re-run
    ``count_pairs`` for the range sort's sample job.
    """
    import numpy as np
    import pyarrow as pa

    sh = _shingles_sized(docs, shingle_n, text_col, id_col)
    # 2× the session shuffle parallelism for the two Arrow stages: each
    # task buffers its partition's pair arrays, so halving the per-task
    # working set keeps every concurrent task's footprint small (measured
    # at sf1.0/local[32]: best-of-runs 16→8 s and run-to-run spread
    # 16-65 s → 8-16 s vs 1× partitions; guide §5 — smaller per-task
    # state — applied to Python workers). Scale-adaptive: derived from
    # spark.sql.shuffle.partitions, not a constant.
    n_part = 2 * int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    cap = max_doc_freq
    # ids stay their declared Spark type end to end (tests use string ids);
    # internally each task maps them to dense int codes via np.unique,
    # whose sort order matches Spark's '<' for numerics and (ASCII) strings
    id_t = docs.schema[id_col].dataType.simpleString()

    thr = float(threshold)

    def _np(arr: pa.Array) -> np.ndarray:
        return arr.to_numpy(zero_copy_only=False)

    def gen_pairs(batches):
        id_c, sz_c, key_c = [], [], []
        for rb in batches:
            if rb.num_rows:
                id_c.append(rb.column(0))
                sz_c.append(rb.column(1))
                key_c.append(rb.column(2))
        if not id_c:
            return
        uid, icode = np.unique(
            _np(pa.chunked_array(id_c).combine_chunks()), return_inverse=True
        )
        # int32 throughout the pair arrays (round 6): every intermediate
        # here is a per-task dense code or a Spark `size()` (IntegerType by
        # construction), all < 2^31, and the pair arrays are the multi-
        # million-element working set — halving their width halves this
        # stage's memory traffic (guide §2.3 narrower types, applied to
        # the task-local arrays the same way as to shuffle columns)
        szs = _np(pa.chunked_array(sz_c).combine_chunks()).astype(
            np.int32, copy=False
        )
        # shingle → dense code entirely in Arrow (no Python string objects)
        codes = _np(
            pa.chunked_array(key_c).combine_chunks().dictionary_encode().indices
        )
        # one packed-key argsort instead of a two-pass lexsort: per-task
        # posting/shingle/doc counts are all far below 2^31, so
        # (shingle_code << 32) | id_code orders by (shingle, id) in a
        # single int64 pass — ids ascending within each group, so every
        # generated pair still has id_a < id_b exactly as before (keys are
        # unique: array_distinct leaves one posting per (doc, shingle))
        order = np.argsort((codes.astype(np.int64) << 32) | icode)
        icode = icode[order].astype(np.int32, copy=False)
        szs, codes = szs[order], codes[order]
        a_idx, b_idx = _ingroup_pairs(codes, cap)
        if not a_idx.size:
            return
        ca, sz_a = icode[a_idx], szs[a_idx]
        cb, sz_b = icode[b_idx], szs[b_idx]
        # size-ratio necessary condition BEFORE the shuffle: i ≤ min(szA,szB)
        # and |A∪B| ≥ max(szA,szB), so J ≤ min/max — a pair with
        # min < t·max can never reach the threshold no matter how many
        # shingles it shares. Same one-integer conservative slack as the
        # stage-B test (float rounding of t·max is < 1 ulp ≪ 1), so this
        # keeps a strict superset of every pair the exact final division
        # can accept; at t=0.5 over the 10-100-shingle doc-size range it
        # drops roughly half the pair-instance mass before it is shuffled
        # (guide §2.3 — shuffle fewer bytes).
        ratio_ok = np.minimum(sz_a, sz_b) + 1.0 >= thr * np.maximum(sz_a, sz_b)
        if not ratio_ok.all():
            ca, sz_a, cb, sz_b = ca[ratio_ok], sz_a[ratio_ok], cb[ratio_ok], sz_b[ratio_ok]
        if not ca.size:
            return
        # partial-group by id_a: one output row per distinct id_a in this
        # task, carrying its b-side either as raw-byte BINARY cells
        # (integer ids — the data buffer IS the flat numpy array, and the
        # JVM exchange / Arrow boundary move one blob per row instead of
        # serializing array elements; guide §4.2's offsets-over-one-
        # buffer trick) or as Arrow list columns (string/other ids)
        o2 = np.argsort(ca, kind="stable")
        ca, sz_a, cb, sz_b = ca[o2], sz_a[o2], cb[o2], sz_b[o2]
        rs = np.flatnonzero(np.r_[True, ca[1:] != ca[:-1]])
        bnd = np.concatenate([rs, [ca.size]])
        _check_pair_width(ca.size, 8 if int_ids else 1)
        if int_ids:
            # explicit little-endian payloads: count_pairs decodes them as
            # "<i8"/"<i4" whatever the host byte order
            ids_flat = np.ascontiguousarray(uid[cb].astype(np.dtype("<i8"), copy=False))
            szs_flat = np.ascontiguousarray(sz_b.astype(np.dtype("<i4"), copy=False))
            nrows = rs.size
            bb_ids = pa.Array.from_buffers(
                pa.binary(), nrows,
                [None, pa.py_buffer((bnd * 8).astype(np.int32)), pa.py_buffer(ids_flat)],
            )
            bb_szs = pa.Array.from_buffers(
                pa.binary(), nrows,
                [None, pa.py_buffer((bnd * 4).astype(np.int32)), pa.py_buffer(szs_flat)],
            )
            yield pa.record_batch(
                [pa.array(uid[ca[rs]]), pa.array(sz_a[rs]), bb_ids, bb_szs],
                names=["id_a", "sz_a", "b_ids", "b_szs"],
            )
        else:
            off = pa.array(bnd.astype(np.int32))
            yield pa.record_batch(
                [
                    pa.array(uid[ca[rs]]),
                    pa.array(sz_a[rs]),
                    pa.ListArray.from_arrays(off, pa.array(uid[cb])),
                    pa.ListArray.from_arrays(off, pa.array(sz_b)),
                ],
                names=["id_a", "sz_a", "b_ids", "b_szs"],
            )

    # sizes cross the exchange as int (Spark `size()` is IntegerType by
    # construction, so int32 is lossless) — 4 fewer bytes per pair
    # instance through the shuffle (guide §2.3); the query's public
    # schema is restored by the final cast below. Integer-id corpora
    # pack the b-side as binary blobs (see gen_pairs).
    int_ids = id_t in ("bigint", "int", "smallint", "tinyint")
    b_schema = (
        "b_ids binary, b_szs binary"
        if int_ids
        else f"b_ids array<{id_t}>, b_szs array<int>"
    )
    st1 = sh.repartition(n_part, "shingle").mapInArrow(
        gen_pairs,
        f"id_a {id_t}, sz_a int, {b_schema}",
    )

    def _binary_flat(col, itemsize, dtype):
        """Decode a BinaryArray of packed fixed-width values into (flat
        ndarray in row order, per-row element counts) without touching
        Python per row: binary payloads are contiguous in row order in
        the data buffer, so one np.frombuffer over the offset span is
        the whole flatten."""
        raw_off = np.frombuffer(col.buffers()[1], dtype=np.int32)
        off = raw_off[col.offset : col.offset + len(col) + 1].astype(np.int64)
        data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
        flat = data[off[0] : off[-1]].view(dtype)
        return flat, np.diff(off) // itemsize

    def count_pairs(batches):
        a_l, sa_l, b_l, sb_l = [], [], [], []
        for rb in batches:
            if not rb.num_rows:
                continue
            bl, bs = rb.column(2), rb.column(3)
            if int_ids:
                bflat, lens = _binary_flat(bl, 8, "<i8")
                sflat, _ = _binary_flat(bs, 4, "<i4")
                ids_dtype = _np(rb.column(0)).dtype
                b_l.append(bflat.astype(ids_dtype, copy=False))
                sb_l.append(sflat)
            else:
                lens = np.diff(bl.offsets.to_numpy(zero_copy_only=False))
                b_l.append(_np(bl.flatten()))
                sb_l.append(_np(bs.flatten()))
            a_l.append(np.repeat(_np(rb.column(0)), lens))
            sa_l.append(np.repeat(_np(rb.column(1)), lens))
        if not a_l:
            return
        A, SA = np.concatenate(a_l), np.concatenate(sa_l)
        B, SB = np.concatenate(b_l), np.concatenate(sb_l)
        # pair RLE key: one packed int64 per pair so ONE argsort orders
        # everything (was: two np.unique sorts + a two-pass lexsort).
        # Ids that are non-negative ints below 2^31 (the crawl-id case)
        # pack directly; anything else (strings, wide ids) goes through
        # dense codes first. Equal keys are identical pairs, so an
        # unstable sort is fine — only run lengths matter.
        if (
            A.dtype.kind in "iu"
            and int(A.min()) >= 0
            and int(A.max()) < 2**31
            and int(B.min()) >= 0
            and int(B.max()) < 2**31
        ):
            key = (A.astype(np.int64) << 32) | B
        else:
            ka = np.unique(A, return_inverse=True)[1]
            kb = np.unique(B, return_inverse=True)[1]
            key = (ka.astype(np.int64) << 32) | kb
        order = np.argsort(key)
        key = key[order]
        rs = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        inter = np.diff(np.r_[rs, key.size]).astype(np.int32)
        # sizes are gathered only at run starts (sz is a function of the
        # id, so any instance of the pair carries the right value) — the
        # full-pair-mass SA/SB gathers of the previous version are gone
        sel = order[rs]
        sa, sb = SA[sel], SB[sel]
        # necessary condition for J ≥ t with one-integer slack (exact
        # final test runs in Spark on the survivors)
        keep = (inter + 1.0 >= thr * sa) & (inter + 1.0 >= thr * sb)
        win = sel[keep]
        yield pa.record_batch(
            [
                pa.array(A[win]), pa.array(B[win]),
                pa.array(inter[keep]), pa.array(sa[keep]), pa.array(sb[keep]),
            ],
            names=["id_a", "id_b", "inter", "sz_a", "sz_b"],
        )

    cand = st1.repartition(n_part, "id_a").mapInArrow(
        count_pairs,
        f"id_a {id_t}, id_b {id_t}, inter int, sz_a int, sz_b int",
    )
    j = cand.withColumn(
        "jaccard",
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
    ).filter(F.col("jaccard") >= threshold)
    # restore the declared long schema (int/int division above is cast to
    # double by Spark exactly as long/long was, so the jaccard values and
    # the survivor set are bit-identical to the previous version)
    # sort_once: the range sample job must not re-run count_pairs
    return sort_once(
        j.select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
        ),
        "id_a",
        "id_b",
    )


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc: per-token hash → per-bit ±1 votes → sign.
    All JVM-side: explode tokens, unpack bits with shiftright/&1, sum
    votes per (doc, bit), reassemble with bit shifts.

    hash_mode:
    - 'xxhash64' — the production path (one JVM hash call per token).
    - 'md5hex' — the oracle/gate path: bit b of the token hash is bit
      (b%4) of hex digit (b//4) of md5(tok), which DuckDB replays exactly
      (same split as MinHash's md5-vs-xxhash64 modes). Costlier (a conv
      per bit) but the banding/vote/segment topology is identical.
    """
    # spread before the explode: the benchmark documents parquet is one
    # row group, which would pin the token explode and the 64-expression
    # vote projection below to a single scan task (guide §2.5)
    toks = _spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    # per-bit votes as 64 COLUMNS of one aggregation (not a 64-way bit
    # explode): the old plan shuffled 64 rows per token into a
    # (doc, bit) groupBy — 64M shuffle rows per 1M tokens; this one
    # partial-aggregates 64 small sums map-side and shuffles one row per
    # (doc, partition). Same math, same simhash values.
    # each 64-wide expression family is built as ONE parsed SQL string per
    # column (round 6): composing them op-by-op with Column arithmetic
    # cost 0.6-0.8 s of DRIVER time per query construction (hundreds of
    # py4j round trips for 64 × ~6 Column ops), which the bench pays on
    # every trial — the parsed expressions are the same Catalyst trees,
    # so plans and simhash values are unchanged (pytest bit-replay green)
    if hash_mode == "md5hex":
        h = toks.select(F.col(id_col), F.md5("tok").alias("hx"))
        vote_sqls = [
            f"sum(((shiftright(cast(conv(substring(hx, {b // 4 + 1}, 1), 16, 10) as int), {b % 4}) & 1) * 2 - 1)) AS v{b}"
            for b in range(64)
        ]
    else:
        h = toks.select(F.col(id_col), F.xxhash64("tok").alias("h"))
        vote_sqls = [
            f"sum(((shiftright(h, {b}) & 1) * 2 - 1)) AS v{b}" for b in range(64)
        ]
    votes = h.groupBy(id_col).agg(*[F.expr(s) for s in vote_sqls])
    sim_sql = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN shiftleft(cast(1 as bigint), {b}) ELSE cast(0 as bigint) END)"
        for b in range(64)
    )
    return votes.select(F.col(id_col), F.expr(sim_sql).alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, max_hamming: int = 3,
    max_segment_bucket: int | None = 256, **kw,
) -> DataFrame:
    """SimHash near-dup pairs via 4-segment pigeonhole: split the 64-bit
    hash into 4×16-bit segments; any pair within hamming distance 3 shares
    at least one exact segment → group on (segment_id, segment_value),
    verify hamming on candidates with bit_count. No N² stage.

    ``max_segment_bucket`` bounds the candidate generation the same way
    the MinHash band cap does: a degenerate pile (10^6 empty/boilerplate
    docs sharing one simhash) would make a single 16-bit segment value
    quadratic. Over-cap segment buckets are skipped whole — exact twins
    that large belong to exact_dedup anyway, and a genuine near-dup pair
    usually still collides in another, smaller segment bucket. Grouping,
    not a self-join, evaluates the token→vote→simhash pipeline once
    rather than once per join branch."""
    import numpy as np
    import pyarrow as pa

    id_col = kw.get("id_col", "doc_id")
    sh = simhash64(docs, **kw)
    seg = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("seg"),
    ).withColumn(
        "seg_val", F.expr("shiftright(simhash, seg * 16) & 65535")
    )
    # round-6 rewrite of the candidate stage (guide §4.2; same shape as
    # ngram_jaccard_pairs): co-locate the segment postings by
    # (seg, seg_val), generate the capped in-bucket pairs with numpy index
    # ramps inside ONE Arrow pass, and apply the hamming test right there
    # — this replaces a collect_list groupBy + nested JVM transform/
    # flatten pair explode (measured 6.6 s alone at sf1.0) + a distinct
    # over all 4 segments' candidate structs (9.9 s end to end). Filtering
    # before distinct is equivalence-preserving: hamming is a pure
    # function of the pair (each id has exactly one simhash), so
    # distinct∘filter = filter∘distinct, and over-cap buckets are skipped
    # whole exactly as before. The distinct + ordering stay in Spark.
    n_part = 2 * int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    id_t = docs.schema[id_col].dataType.simpleString()
    cap = max_segment_bucket
    maxh = int(max_hamming)
    popb = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

    def gen(batches):
        id_c, h_l, k_l = [], [], []
        for rb in batches:
            if rb.num_rows:
                id_c.append(rb.column(0))
                h_l.append(rb.column(1).to_numpy(zero_copy_only=False))
                k_l.append(
                    rb.column(2).to_numpy(zero_copy_only=False).astype(np.int64) * 65536
                    + rb.column(3).to_numpy(zero_copy_only=False).astype(np.int64)
                )
        if not id_c:
            return
        uid, icode = np.unique(
            pa.chunked_array(id_c).combine_chunks().to_numpy(zero_copy_only=False),
            return_inverse=True,
        )
        hsh = np.concatenate(h_l).astype(np.int64)
        key = np.concatenate(k_l)
        order = np.lexsort((icode, key))
        icode, hsh, key = icode[order], hsh[order], key[order]
        a_idx, b_idx = _ingroup_pairs(key, cap)
        if not a_idx.size:
            return
        x = np.bitwise_xor(hsh[a_idx], hsh[b_idx])
        ham = popb[x.view(np.uint8)].reshape(-1, 8).sum(axis=1).astype(np.int32)
        sel = ham <= maxh
        yield pa.record_batch(
            [
                pa.array(uid[icode[a_idx[sel]]]),
                pa.array(uid[icode[b_idx[sel]]]),
                pa.array(ham[sel]),
            ],
            names=["id_a", "id_b", "hamming"],
        )

    cand = (
        seg.repartition(n_part, "seg", "seg_val")
        .mapInArrow(gen, f"id_a {id_t}, id_b {id_t}, hamming int")
        .distinct()
    )
    return cand.orderBy("id_a", "id_b")


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over near-dup candidate pairs — the step a
    training-data pipeline runs after LSH/SimHash candidate generation to
    keep ONE representative per duplicate cluster (transitive closure:
    A~B and B~C put A,C in one cluster even if they never collided).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round is an
    equi-join + min-agg, and the round count is O(log n) even on path
    graphs, where min-label propagation needs diameter rounds (a
    10^3-chain takes ~10 star rounds vs 10^3).

    large-star(u): every neighbor v > u re-attaches to
    m_u = min(Γ(u) ∪ {u}); small-star(u): every neighbor v < u and u
    itself re-attach to m_u = min of the ≤-neighborhood. Both preserve
    connectivity and strictly shrink the potential; at the fixpoint every
    edge is (node, component-min). Deterministic: edges are kept as a
    canonical distinct set and all targets are data-derived minima.

    Returns (id_col, component) for EVERY node; the component is the
    cluster's min id and singletons are their own component. Raises if
    the edge set has not reached its fixpoint after ``max_iterations``
    rounds — a partial result would split clusters and leak duplicates
    past ``dedup_representatives``. Checked against a union-find
    reference in tests/test_dedup.py."""
    # canonical undirected edge set, one row per edge as (a>b) ordered —
    # self-loops dropped; localCheckpoint'd because every round consumes
    # it (the LSH candidate plan must not re-execute per round)
    a, b = F.col("id_a"), F.col("id_b")
    edges = (
        pairs.filter(a != b)
        .select(F.greatest(a, b).alias("src"), F.least(a, b).alias("dst"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(e: DataFrame) -> tuple:
        # bit_xor, not sum: an order-insensitive 64-bit set digest with no
        # ANSI overflow (sum of xxhash64 values overflows long)
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = checksum(edges)
    converged = False
    for _ in range(max_iterations):
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: Γ(u)'s strictly-larger members attach to
        # m_u = min(Γ(u) ∪ {u})
        m_all = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        ls = (
            sym.filter(F.col("dst") > F.col("src"))
            .join(m_all, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # small-star over the large-star output: u and its ≤-neighbors
        # attach to min(Γ⁻(u) ∪ {u})
        sym2 = ls.unionByName(
            ls.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        lower = sym2.filter(F.col("dst") < F.col("src"))
        m_low = lower.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            lower.join(m_low, "src")
            .select(F.col("dst").alias("v"), F.col("m"))
            .unionByName(m_low.select(F.col("src").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.greatest("v", "m").alias("src"), F.least("v", "m").alias("dst"))
            .distinct()
            .localCheckpoint()
        )
        edges = ss
        cur = checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "alternating rounds — pathological candidate graph; raise the bound"
        )
    # star fixpoint: every edge is (member, root); roots and singletons
    # label themselves
    labels = edges.groupBy("src").agg(F.min("dst").alias("comp"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels, F.col("node") == F.col("src"), "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("comp"), F.col("node")).alias("component"),
        )
    )


def dedup_representatives(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one doc per near-dup cluster: semi-join docs to the rows
    whose id IS their component label (the min-id representative)."""
    reps = components.filter(F.col(id_col) == F.col("component")).select(id_col)
    return docs.join(reps, id_col, "left_semi")
