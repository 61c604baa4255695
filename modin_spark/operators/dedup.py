"""Deduplication operators for large-scale text corpora (net-new vs the
reference — first-class training-data pipeline ops).

All operators take/return modin_spark DataFrames (or raw Spark DataFrames via
``_sdf=``) and are designed shuffle-first:

- exact_dedup: hash-groupBy keep-first — one shuffle.
- minhash_lsh_dedup: shingle -> 128-perm MinHash -> band buckets ->
  bucket-join -> connected pairs -> keep smallest doc per duplicate set.
  Candidate generation is an equi-join on (band, bucket-hash) — never an
  all-pairs product; verification re-checks estimated Jaccard on signatures.
- simhash_dedup: 64-bit SimHash + Hamming-ball bands.
- ngram_jaccard_dedup: exact n-gram Jaccard on LSH candidates.
- embedding_cosine_dedup: cosine near-dup over an array<float> column,
  LSH-bucketed via random hyperplanes.

Everything is built-in expressions (xxhash64, transform, aggregate) except
where noted; no row-at-a-time Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame as SDF, Window
from pyspark.sql import functions as F

# deterministic odd multipliers for the universal-hash family
_MH_A = 0x9E3779B97F4A7C15
_MH_B = 0xC2B2AE3D27D4EB4F


def _py_shingles(text: str | None, k: int) -> list[str]:
    import re

    words = re.sub(r"[^a-z0-9\s]", " ", (text or "").lower()).split()
    if len(words) >= k:
        return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    return [" ".join(words)]


# positional combine multiplier for turning k consecutive word hashes into one
# shingle hash (odd => bijective mod 2^64)
_SHINGLE_COEF = np.uint64(0x100000001B3)


def _batch_shingle_hashes(texts: "pd.Series", k: int):
    """Shingle hashes for a whole Arrow batch in one vectorized pass.

    Words are hashed ONCE for the entire batch (one siphash call over the
    flattened word array); a k-word shingle's hash is the wrapping polynomial
    sum(coef^(k-1-j) * wordhash[j]) — so no shingle strings are ever built.
    Returns (shv, offsets, nz, fallback) where ``shv`` is the flat uint64
    array of full-k shingle hashes grouped by doc, ``offsets[d]`` the start of
    doc d's segment, ``nz`` the docs with >=1 full shingle, and ``fallback``
    a per-doc scalar hash (polynomial over ALL its words) used when a doc has
    fewer than k words.
    """
    import re

    pat = re.compile(r"[^a-z0-9\s]")
    word_lists = [pat.sub(" ", (t or "").lower()).split() for t in texts]
    ndocs = len(word_lists)
    counts = np.fromiter((len(w) for w in word_lists), dtype=np.int64, count=ndocs)
    n = int(counts.sum())
    flat = np.empty(n, dtype=object)
    pos = 0
    for w in word_lists:
        flat[pos : pos + len(w)] = w
        pos += len(w)
    wh = pd.util.hash_array(flat).astype(np.uint64) if n else np.zeros(0, dtype=np.uint64)

    ends = np.cumsum(counts)
    starts = ends - counts
    # hash of every length-k window over the flat array (some cross docs)
    if n >= k:
        win = np.zeros(n - k + 1, dtype=np.uint64)
        for j in range(k):
            win = win * _SHINGLE_COEF + wh[j : n - k + 1 + j]
    else:
        win = np.zeros(0, dtype=np.uint64)
    # keep only windows fully inside one doc
    doc_of = np.repeat(np.arange(ndocs), counts)[: len(win)] if len(win) else np.zeros(0, np.int64)
    valid = (np.arange(len(win)) + k) <= ends[doc_of] if len(win) else np.zeros(0, bool)
    shv = win[valid]
    new_counts = np.bincount(doc_of[valid], minlength=ndocs) if len(win) else np.zeros(ndocs, np.int64)
    offsets = np.concatenate([[0], np.cumsum(new_counts)]).astype(np.int64)
    nz = np.flatnonzero(new_counts)
    # short docs (< k words): one shingle = polynomial over all their words
    fallback = np.zeros(ndocs, dtype=np.uint64)
    for d in np.flatnonzero(new_counts == 0):
        h = np.uint64(0)
        for j in range(starts[d], ends[d]):
            h = h * _SHINGLE_COEF + wh[j]
        fallback[d] = h
    return shv, offsets, nz, fallback


def shingles(c: Column, k: int = 5) -> Column:
    """Word k-shingles as array<string>.

    One Arrow-vectorized pandas_udf: the equivalent chain of Catalyst
    higher-order functions (split/sequence/transform/slice/array_join) is
    interpreted per element and benchmarked ~50x slower on real documents.
    """
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([_py_shingles(t, k) for t in texts])

    return _sh(c)


def md5_hash60(c: Column) -> Column:
    """Engine-independent 60-bit shingle hash: the first 15 hex digits of
    md5, parsed as an integer — Spark computes it JVM-side
    (conv(substring(md5(s),1,15),16,10)) and DuckDB replays it exactly
    (('0x'||substring(md5(s),1,15))::BIGINT), which makes every
    MinHash/SimHash built on it fully oracle-checkable. The production
    default stays the (faster) siphash/xxhash64 base, whose quality is
    pytest-gated on planted duplicates instead."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _md5_shingle_hashes(text: str | None, k: int) -> "np.ndarray":
    """60-bit md5 hashes of the word k-shingles (first 15 hex digits as an
    int — exactly dedup.md5_hash60 / the DuckDB oracle's hex-cast)."""
    import hashlib

    return np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in _py_shingles(text, k)),
        dtype=np.uint64,
    )


def text_minhash_md5(c: Column, k: int = 5, num_perm: int = 128) -> Column:
    """text -> packed MinHash signature like text_minhash, but on the
    SQL-replayable md5 base hash. ONE fused pandas_udf (shingle + hashlib
    md5 + numpy wrapping-uint64 permutation mins) — a shingle-string
    round-trip through a JVM md5 stage costs two extra Arrow transfers of
    every shingle and benched 5x slower."""
    from pyspark.sql import types as T

    a_co, b_co = _perm_coeffs(num_perm)
    a_u, b_u = a_co.astype(np.uint64), b_co.astype(np.uint64)

    @F.pandas_udf(T.BinaryType())
    def _mh(texts: pd.Series) -> pd.Series:
        import hashlib

        # batch-vectorized: ONE flat md5 pass over every shingle in the
        # Arrow batch, then per-lane a*x+b with a segmented min
        # (np.minimum.reduceat over doc boundaries) — the per-doc (128, n)
        # matrix loop paid per-doc numpy dispatch overhead (r15 opt,
        # 0.81->0.68s per 5k docs single-core; identical output)
        allsh: list[str] = []
        counts = np.empty(len(texts), dtype=np.int64)
        zero_slots: list[int] = []  # shingle-less docs hash as 0 (legacy)
        for i, t in enumerate(texts):
            sh = _py_shingles(t, k)
            if not sh:
                zero_slots.append(len(allsh))
                sh = [""]
            counts[i] = len(sh)
            allsh.extend(sh)
        if not len(texts):
            return pd.Series([], dtype=object)
        x = np.fromiter(
            (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in allsh),
            dtype=np.uint64, count=len(allsh))
        if zero_slots:
            x[np.asarray(zero_slots, dtype=np.int64)] = 0
        starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        res = np.empty((len(texts), num_perm), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for lane in range(num_perm):
                res[:, lane] = np.minimum.reduceat(a_u[lane] * x + b_u[lane], starts)
        return pd.Series([r.astype("<u8").tobytes() for r in res])

    return _mh(c)


def text_minhash(c: Column, k: int = 5, num_perm: int = 128) -> Column:
    """text -> MinHash signature packed as ``binary`` (num_perm little-endian
    64-bit lanes) in ONE pandas_udf pass, vectorized across the WHOLE Arrow
    batch: one siphash call over every word in the batch, shingle hashes via
    a wrapping polynomial over word hashes (no shingle strings built), and
    per-permutation segment-min via ``np.minimum.reduceat``. Binary beats
    array<long> both in cache build time (~10x: no per-element boxing) and in
    shuffle width. Permutations run in chunks of 32 to bound the (perm x
    n_shingles) intermediate at a few tens of MB per batch."""
    from pyspark.sql import types as T

    a_co, b_co = _perm_coeffs(num_perm)
    a_u, b_u = a_co.astype(np.uint64), b_co.astype(np.uint64)

    @F.pandas_udf(T.BinaryType())
    def _mh(texts: pd.Series) -> pd.Series:
        with np.errstate(over="ignore"):
            shv, offsets, nz, fallback = _batch_shingle_hashes(texts, k)
            ndocs = len(texts)
            sig = np.empty((num_perm, ndocs), dtype=np.uint64)
            # docs with no full shingle: permute their single fallback hash
            sig[:] = a_u[:, None] * fallback[None, :] + b_u[:, None]
            if len(nz):
                red_idx = offsets[nz]
                for lo in range(0, num_perm, 32):
                    hi = min(lo + 32, num_perm)
                    m = a_u[lo:hi, None] * shv[None, :] + b_u[lo:hi, None]
                    sig[lo:hi, nz] = np.minimum.reduceat(m, red_idx, axis=1)
            packed = sig.T.astype("<u8").tobytes()
            row = num_perm * 8
            return pd.Series([packed[i * row : (i + 1) * row] for i in range(ndocs)])

    return _mh(c)


def sig_match_fraction(a: Column, b: Column, num_perm: int) -> Column:
    """Fraction of equal int64 lanes between two packed signatures — one
    Arrow-vectorized numpy pass over the (few, post-LSH) candidate pairs."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _frac(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = np.empty(len(sa), dtype="float64")
        for i, (x, y) in enumerate(zip(sa, sb)):
            xa = np.frombuffer(x, dtype="<i8")
            ya = np.frombuffer(y, dtype="<i8")
            out[i] = float((xa == ya).mean()) if xa.size else 0.0
        return pd.Series(out)

    return _frac(a, b)


def text_simhash(c: Column, k: int = 3, bits: int = 64) -> Column:
    """text -> 64-bit SimHash in one pandas_udf pass, vectorized across the
    whole Arrow batch: shingle hashes from the shared batched helper, per-doc
    bit votes via ``np.add.reduceat`` over the (n_shingles x 64) bit matrix,
    sign -> bit packed with one matmul."""
    from pyspark.sql import types as T

    shifts = np.arange(bits, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.uint64)

    @F.pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        with np.errstate(over="ignore"):
            shv, offsets, nz, fallback = _batch_shingle_hashes(texts, k)
            ndocs = len(texts)
            # zero-full-shingle docs vote with their single fallback hash
            src = fallback
            votes = ((src[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
            if len(nz):
                bitmat = ((shv[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
                sums = np.add.reduceat(bitmat, offsets[nz], axis=0)  # (nnz, bits)
                seg_n = np.diff(np.append(offsets[nz], len(shv)))
                votes[nz] = sums * 2 - seg_n[:, None]
            word = ((votes > 0).astype(np.uint64) * powers[None, :]).sum(axis=1, dtype=np.uint64)
            return pd.Series(word.astype(np.int64))

    return _sh(c)


def _perm_coeffs(num_perm: int):
    import numpy as np

    i = np.arange(num_perm, dtype=np.uint64)
    a = (np.uint64(_MH_A) * (2 * i + 1)) & np.uint64((1 << 63) - 1)
    b = (np.uint64(_MH_B) * (i + 1)) & np.uint64((1 << 63) - 1)
    return a.astype(np.int64), b.astype(np.int64)


def minhash_signature(sh: Column, num_perm: int = 128) -> Column:
    """num_perm MinHash values via universal hashing of xxhash64(shingle).

    Base shingle hashes are computed JVM-side once; the num_perm
    permutations (h_i(x) = a_i*x + b_i mod 2^64, wrapping) run as ONE
    Arrow-vectorized numpy pandas_udf — a broadcasted (num_perm × n_shingles)
    multiply-min per row. Chaining num_perm Catalyst ArrayTransforms instead
    is ~100× slower (higher-order exprs are interpreted per element).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    a_co, b_co = _perm_coeffs(num_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hashes: pd.Series) -> pd.Series:
        old = np.seterr(over="ignore")
        out = []
        for h in hashes:
            x = np.asarray(h, dtype=np.int64)
            if x.size == 0:
                out.append(np.full(num_perm, np.iinfo(np.int64).max).tolist())
                continue
            m = (a_co[:, None] * x[None, :] + b_co[:, None]).min(axis=1)
            out.append(m.tolist())
        np.seterr(**old)
        return pd.Series(out)

    base = F.transform(sh, lambda s: F.xxhash64(s))
    return _sig(base)


def _band_rows(df: SDF, id_col: str, sig_col: str, bands: int, rows_per_band: int,
               by_value: bool = False) -> SDF:
    """Explode a packed-binary signature into (band, bucket, id) rows —
    bucket = xxhash64 of the band's byte slice (default), or the raw byte
    slice itself with ``by_value=True`` (hex-encoded so the bucket key is a
    plain string): slightly wider shuffle rows, but the bucket key is then
    exactly the band's lane values, which a SQL oracle can recompute."""
    def _slice(b):
        return F.expr(f"substring({sig_col}, {b * rows_per_band * 8 + 1}, {rows_per_band * 8})")

    if by_value:
        band_arr = F.array(*[F.hex(_slice(b)) for b in range(bands)])
    else:
        band_arr = F.array(*[F.xxhash64(_slice(b)) for b in range(bands)])
    return (
        df.withColumn("__bands__", band_arr)
        .select(id_col, sig_col, F.posexplode("__bands__").alias("__band__", "__bucket__"))
    )


def _spread_for_udf(df: SDF) -> SDF:
    """Repartition up to the session's parallelism before an expensive
    pandas_udf stage. A small file (or a single parquet row group — Spark
    can't split those) otherwise funnels the whole Python-side computation
    through one core; at real scale inputs already have >= cores partitions
    and this is a no-op."""
    from modin_spark.plans import output_partitions, size_estimate
    from modin_spark.session import spread_target

    # size-adaptive target (guide §2.2): ~96 KiB of input per task via the
    # optimizer's size estimate, capped at the session parallelism — a tiny
    # corpus round-robined to 32 tasks leaves ~15 ms of work each and
    # scheduling dominates (the r16 quiet bench had the spread family
    # FASTER at 8 cores than 32); at real scale the byte rule saturates
    # every core long before the cap.
    target = spread_target(df.sparkSession, size_estimate(df))
    # read the scan's split count from the physical plan instead of df.rdd
    # (the RDD conversion forces a full plan translation per call); if the
    # plan has no file scan (in-memory relation etc.) fall back to the RDD
    # probe. At real scale inputs already carry >= cores splits and the
    # repartition is skipped either way.
    nparts = output_partitions(df)
    # target 1 means "don't spread" (input too small to benefit) — emitting
    # repartition(1) would be a SinglePartition exchange over raw rows, the
    # exact plan shape the scale-safety sweep forbids
    if target > 1 and nparts < target:
        return df.repartition(target)
    return df


def minhash_candidate_pairs(
    df: SDF, id_col: str, text_col: str, *, k: int = 5, num_perm: int = 128, bands: int = 32,
    threshold: float = 0.8, max_bucket_size: int | None = 1000, distinct_pairs: bool = True,
    base_hash: str = "sip_poly"
) -> SDF:
    """(id_a, id_b, est_jaccard) candidate near-dup pairs, id_a < id_b.

    ``max_bucket_size`` is the hot-bucket skew guard for boilerplate-heavy
    corpora: an LSH bucket of m ids yields m(m-1)/2 all-pairs candidates, so
    one mega-bucket (empty docs, shared boilerplate) can dominate the whole
    job — the adversarial-skew rung measured a planted 2500-identical-doc
    cluster at ~100M pair rows (258s) under all-pairs expansion. Buckets
    larger than the cap switch to STAR expansion: each member pairs with the
    bucket's minimum id only (m-1 pairs, linear in bucket size). The cluster
    still collapses — every member is verified against the representative
    and keep-min/connected-components drops the rest — unlike the
    drop-the-bucket mitigation, which would skip deduping exactly the docs
    that need it most (identical docs share ALL their bands, so every one of
    their buckets is over-cap). Set None to always expand all pairs."""
    rows_per_band = num_perm // bands
    from pyspark import StorageLevel
    df = _spread_for_udf(df)

    # signatures computed once and persisted — both the band explode and the
    # verification join read this lineage (MEMORY_AND_DISK so 100 TB spills).
    # base_hash="md5": SQL-replayable signature + value banding (see
    # md5_hash60) so the whole pipeline can sit under an exact oracle.
    mh = text_minhash_md5 if base_hash == "md5" else text_minhash
    sigs = df.select(
        id_col, mh(F.col(text_col), k, num_perm).alias("__sig__")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # candidate generation ships only (band, bucket, id) — NOT the signature;
    # carrying the 128-long array through the 32x band explode would amplify
    # the shuffle by two orders of magnitude
    banded = _band_rows(
        sigs, id_col, "__sig__", bands, rows_per_band, by_value=(base_hash == "md5")
    ).select(id_col, "__band__", "__bucket__")
    # ONE shuffle does candidate generation: group each (band, bucket) to a
    # sorted id list, enforce the size cap inline on the aggregated row (no
    # separate count job / broadcast anti-join), and expand the m*(m-1)/2
    # pairs JVM-side from the sorted list (sortedness gives id_a < id_b for
    # free). Pair expansion happens where a self-join would have put the
    # bucket anyway (same hash key -> same task), so skew is identical but
    # the second shuffle and the blocking pre-count pass are gone.
    grouped = (
        banded.groupBy("__band__", "__bucket__")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids__"))
        .where(F.size("__ids__") >= 2)
    )
    all_pairs = (
        "flatten(transform(__ids__, (x, i) -> "
        "transform(slice(__ids__, i + 2, size(__ids__)), y -> struct(x AS id_a, y AS id_b))))"
    )
    if max_bucket_size is None:
        pair_struct = all_pairs
    else:
        # over-cap: star expansion against the bucket minimum (__ids__ is
        # sorted, so element 1 is the min) — m-1 pairs instead of m(m-1)/2
        star = (
            "transform(slice(__ids__, 2, size(__ids__) - 1), "
            "y -> struct(element_at(__ids__, 1) AS id_a, y AS id_b))"
        )
        pair_struct = (
            f"CASE WHEN size(__ids__) <= {int(max_bucket_size)} "
            f"THEN {all_pairs} ELSE {star} END"
        )
    pairs = (
        grouped.select(F.explode(F.expr(pair_struct)).alias("__p__"))
        .select("__p__.id_a", "__p__.id_b")
    )
    if distinct_pairs:
        # a pair found through several bands appears once per band; public
        # callers get distinct pairs. The dedup path skips this shuffle —
        # its keep-min/CC step re-distincts anyway, and the (vectorized)
        # verify of a few duplicate pairs is cheaper than an exchange.
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    # verification: join the two signatures back (pairs are few post-LSH)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("__sig__").alias("sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("__sig__").alias("sb"))
    pairs = pairs.join(sa, "id_a").join(sb, "id_b")
    est = sig_match_fraction(F.col("sa"), F.col("sb"), num_perm)
    return pairs.withColumn("est_jaccard", est).where(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


def duplicate_components(pairs: SDF, max_iter: int = 10) -> SDF:
    """(v, l) labels over the near-dup pair graph: l = min id reachable from
    v — exact connected components via iterative min-label propagation.

    Each round is one shuffle join (labels onto the symmetrized edge list) +
    one min-groupBy; rounds needed = component diameter, and near-dup
    clusters are shallow (clique-ish), so 2-3 rounds in practice. Edges are
    persisted once; convergence is checked with a count() of still-shrinking
    labels (one small action per round). At 100 TB the state shuffled per
    round is O(edges), never the documents."""
    from pyspark import StorageLevel

    e = pairs.select("id_a", "id_b")
    sym = e.union(e.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    labels = (
        sym.groupBy(F.col("id_a").alias("v"))
        .agg(F.min("id_b").alias("l"))
        .select("v", F.least("v", "l").alias("l"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels.count()
    for _ in range(max_iter):
        prop = (
            sym.join(labels.withColumnRenamed("v", "id_b"), "id_b")
            .select(F.col("id_a").alias("v"), "l")
        )
        new = (
            labels.union(prop).groupBy("v").agg(F.min("l").alias("l"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        changed = new.join(labels.withColumnRenamed("l", "__old__"), "v").where("l < __old__").count()
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    sym.unpersist()
    return labels


def _dedup_keep_min(df: SDF, id_col: str, pairs: SDF, connected_components: bool = False) -> SDF:
    """Keep one doc per duplicate cluster.

    Default: drop any id that has a smaller near-duplicate (min-id
    representative; one pass — adequate for near-dup sets, which are
    cliques-ish). With ``connected_components=True``, exact CC labels via
    duplicate_components: keeps exactly ONE doc per connected component even
    when two survivors are linked only through a common larger node (e.g.
    pairs (1,3),(2,3): min-id keeps {1,2}, CC keeps {1})."""
    if connected_components:
        losers = duplicate_components(pairs).where(F.col("v") != F.col("l")).select(
            F.col("v").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def minhash_lsh_dedup(df: SDF, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.8,
                      connected_components: bool = False, **kw) -> SDF:
    kw.setdefault("distinct_pairs", connected_components)  # CC wants clean edges
    pairs = minhash_candidate_pairs(df, id_col, text_col, threshold=threshold, **kw)
    return _dedup_keep_min(df, id_col, pairs, connected_components=connected_components)


def paragraph_dedup(df: SDF, id_col: str = "doc_id", text_col: str = "text") -> SDF:
    """Corpus-wide PARAGRAPH-level exact dedup (keep first occurrence by
    (doc, position)): explode paragraphs, pick the min-(doc,pos) copy per
    normalized paragraph, reassemble each doc's surviving paragraphs in
    order. Two hash shuffles (norm groupBy + doc reassemble) — both keyed,
    both shuffle-parallel; per-key state is one paragraph, so 100 TB-safe.
    Common-boilerplate removal (shared headers/footers) is exactly this
    operator."""
    parts = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), r"\n\s*\n")).alias("__p__", "__para__")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("__para__")), r"\s+", " "))
    parts = parts.withColumn("__norm__", norm).where(F.length("__norm__") >= 1)
    # winner per normalized paragraph as ONE window-min over the norm key
    # instead of groupBy + join-back: the join path shuffled the paragraph
    # text twice (groupBy exchange on the norms, then the parts re-shuffle
    # for the merge) — the window moves the text exactly once (guide §2.4;
    # measured 1.05->0.75s at sf0.1). Per-key window state is a single
    # struct, so boilerplate-heavy hot keys stream, not buffer.
    w = Window.partitionBy("__norm__")
    kept = parts.withColumn(
        "__w__",
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__p__").alias("p"))).over(w),
    ).where(
        (F.col(id_col) == F.col("__w__.i")) & (F.col("__p__") == F.col("__w__.p"))
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__p__").alias("p"), F.col("__para__").alias("v")))),
                lambda s: s["v"],
            ),
            "\n\n",
        ).alias(text_col)
    )


def exact_dedup(df: SDF, subset: list[str]) -> SDF:
    """Exact dedup keep-first by content hash — groupBy + min(id) semi-join
    (single shuffle on the hash, no window over everything)."""
    return df.dropDuplicates(subset)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(c: Column, k: int = 3, bits: int = 64) -> Column:
    """64-bit SimHash over word k-shingles: sum ±1 votes per bit from each
    shingle hash, sign -> bit. Base hashes JVM-side; the 64-bit vote matrix
    is one vectorized numpy pandas_udf (same rationale as minhash_signature)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    shifts = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def _simhash(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, h in enumerate(hashes):
            x = np.asarray(h, dtype=np.int64).astype(np.uint64)
            if x.size == 0:
                continue
            bitmat = (x[:, None] >> shifts[None, :]) & np.uint64(1)  # (n, bits)
            votes = bitmat.astype(np.int64).sum(axis=0) * 2 - x.size
            word = np.uint64(0)
            for b in range(bits):
                if votes[b] > 0:
                    word |= np.uint64(1) << np.uint64(b)
            out[i] = word.astype(np.int64)
        return pd.Series(out)

    sh = shingles(c, k)
    return _simhash(F.transform(sh, lambda s: F.xxhash64(s)))


def text_simhash_md5(c: Column, k: int = 3, bits: int = 64) -> Column:
    """text -> SimHash word on the SQL-replayable md5 base hash (see
    md5_hash60), ONE fused pandas_udf (same rationale as text_minhash_md5).
    Hashes carry 60 significant bits, so word bits 60-63 are always 0 —
    identical on the SQL side, which recomputes the same votes."""
    from pyspark.sql import types as T

    shifts = np.arange(bits, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.uint64)

    @F.pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            x = _md5_shingle_hashes(t, k)
            if x.size == 0:
                continue
            bitmat = ((x[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            votes = bitmat.sum(axis=0) * 2 - x.size
            word = ((votes > 0).astype(np.uint64) * powers).sum(dtype=np.uint64)
            out[i] = np.uint64(word).astype(np.int64)
        return pd.Series(out)

    return _sh(c)


def simhash_dedup(df: SDF, id_col: str = "doc_id", text_col: str = "text",
                  hamming_threshold: int = 3, base_hash: str = "sip_poly",
                  max_bucket_size: int | None = 1000) -> SDF:
    """Near-dup via SimHash: band the 64 bits into 4×16-bit keys (any pair
    within Hamming distance 3 shares ≥1 exact band), equi-join candidates,
    verify exact Hamming distance with bit_count(xor). ``base_hash="md5"``
    swaps the word-hash base for the SQL-replayable md5_hash60 family so the
    whole pipeline can sit under an exact DuckDB oracle.

    ``max_bucket_size`` is the same hot-bucket skew guard as
    minhash_candidate_pairs: a band bucket larger than the cap (identical
    boilerplate docs share the whole 64-bit word, hence every band key)
    switches from all-pairs to STAR expansion against the bucket's minimum
    id — linear in bucket size, and keep-min still collapses the cluster."""
    ts = text_simhash_md5 if base_hash == "md5" else text_simhash
    sh = _spread_for_udf(df).select(id_col, ts(F.col(text_col)).alias("__sh__"))
    bands = sh.select(
        id_col,
        "__sh__",
        F.posexplode(
            F.array(*[F.shiftright(F.col("__sh__"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
        ).alias("__band__", "__key__"),
    )
    # single-shuffle candidate generation (same scheme as minhash): group
    # each band key to a sorted (id, hash) list and expand pairs JVM-side
    grouped = (
        bands.groupBy("__band__", "__key__")
        .agg(F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("__sh__").alias("h")))).alias("__m__"))
        .where(F.size("__m__") >= 2)
    )
    all_pairs = (
        "flatten(transform(__m__, (x, i) -> transform(slice(__m__, i + 2, size(__m__)), "
        "y -> struct(x.i AS id_a, y.i AS id_b, x.h AS ha, y.h AS hb))))"
    )
    if max_bucket_size is None:
        pair_expr = all_pairs
    else:
        star = (
            "transform(slice(__m__, 2, size(__m__) - 1), "
            "y -> struct(element_at(__m__, 1).i AS id_a, y.i AS id_b, "
            "element_at(__m__, 1).h AS ha, y.h AS hb))"
        )
        pair_expr = (
            f"CASE WHEN size(__m__) <= {int(max_bucket_size)} "
            f"THEN {all_pairs} ELSE {star} END"
        )
    pairs = (
        grouped.select(F.explode(F.expr(pair_expr)).alias("__p__"))
        .select("__p__.id_a", "__p__.id_b", "__p__.ha", "__p__.hb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= hamming_threshold)
    )
    return _dedup_keep_min(df, id_col, pairs)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification pass over LSH candidates)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: SDF, id_col: str = "doc_id", text_col: str = "text", k: int = 5, threshold: float = 0.8) -> SDF:
    """Exact Jaccard over word k-shingles for LSH candidate pairs:
    |A∩B| / |A∪B| via array_intersect/array_union on deduped shingle arrays."""
    cands = minhash_candidate_pairs(df, id_col, text_col, k=k, threshold=threshold * 0.7)
    sh = _spread_for_udf(df).select(F.col(id_col), F.array_distinct(shingles(F.col(text_col), k)).alias("__sh__"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh__").alias("sha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh__").alias("shb"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(F.array_union("sha", "shb"))
    return joined.withColumn("jaccard", jac).where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def ngram_jaccard_dedup(df: SDF, id_col: str = "doc_id", text_col: str = "text", k: int = 5, threshold: float = 0.8) -> SDF:
    return _dedup_keep_min(df, id_col, ngram_jaccard_pairs(df, id_col, text_col, k, threshold))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_cosine_dedup(df: SDF, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95, planes: int = 16,
                           max_bucket_size: int | None = 1000) -> SDF:
    """Near-dup by cosine similarity over array<float>: random-hyperplane LSH
    sign bucket (16-bit key) -> bucket equi-join -> exact cosine verify.
    ``max_bucket_size`` is the same hot-bucket guard as
    minhash_candidate_pairs: an over-cap bucket (e.g. a mass-duplicated
    embedding) expands as a STAR against the bucket's min id instead of
    all-pairs — linear in bucket size, keep-min still collapses it."""
    from modin_spark.operators.similarity import cosine_expr, hyperplane_bucket

    b = df.select(F.col(id_col), F.col(vec_col), hyperplane_bucket(F.col(vec_col), planes).alias("__bk__"))
    # one groupBy ships each vector through the shuffle once (the self-join
    # shipped every vector twice); pairs expand from the sorted per-bucket
    # list, then exact-cosine verify
    grouped = (
        b.groupBy("__bk__")
        .agg(F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v")))).alias("__m__"))
        .where(F.size("__m__") >= 2)
    )
    all_pairs = (
        "flatten(transform(__m__, (x, i) -> transform(slice(__m__, i + 2, size(__m__)), "
        "y -> struct(x.i AS id_a, y.i AS id_b, x.v AS va, y.v AS vb))))"
    )
    if max_bucket_size is None:
        pair_expr = all_pairs
    else:
        star = (
            "transform(slice(__m__, 2, size(__m__) - 1), "
            "y -> struct(element_at(__m__, 1).i AS id_a, y.i AS id_b, "
            "element_at(__m__, 1).v AS va, y.v AS vb))"
        )
        pair_expr = (
            f"CASE WHEN size(__m__) <= {int(max_bucket_size)} "
            f"THEN {all_pairs} ELSE {star} END"
        )
    pairs = (
        grouped.select(F.explode(F.expr(pair_expr)).alias("__p__"))
        .select("__p__.id_a", "__p__.id_b", "__p__.va", "__p__.vb")
        .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return _dedup_keep_min(df, id_col, pairs)
