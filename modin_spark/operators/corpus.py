"""Training-corpus construction operators (net-new vs the reference):
eval-set decontamination, sequence packing, deterministic stratified
sampling, per-domain caps, and vocabulary/n-gram statistics.

Design rules (100 TB discipline):
  - pure built-in expressions wherever possible (whole-stage codegen);
  - the only shuffles are the ones the semantics force (one groupBy for
    dedup-style ops, one range shuffle for order-dependent packing);
  - small sides (eval n-gram sets, per-partition offsets) are broadcast;
  - every sampling decision is a deterministic pure function of the row
    (md5 of the key), so reruns and both engines of a differential test
    agree bit-for-bit — no RNG state, no seed plumbing across executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SDF, Window
from pyspark.sql import functions as F


def _norm_words(text: Column) -> Column:
    """Normalized word array: lowercase, split on whitespace runs, no
    empties. split() takes the regex directly — a regexp_replace pre-pass
    would rewrite every byte of text once more for the same token stream."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def word_ngrams(text: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) over the normalized word
    sequence. Built by zip_with-folding n-1 shifted copies of the word
    array (zip_with pads the shorter side with null and concat propagates
    it, so the ragged tail filters itself out) — measured ~6x faster than
    the transform(sequence)+slice formulation, whose per-index slice is
    O(words*n) interpreted allocations. Stays in the scan stage: no UDF,
    no shuffle."""
    words = _norm_words(text)
    acc = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(acc, lambda x: x.isNotNull()) if n > 1 else acc


def contaminated_ids(train: SDF, eval_df: SDF, id_col: str = "doc_id", text_col: str = "text", n: int = 6) -> SDF:
    """IDs of train docs sharing any word ``n``-gram with the eval set.

    Plan shape: eval -> explode n-grams -> distinct (the small side, marked
    broadcast); train -> explode n-grams -> broadcast-hash semi-join ->
    distinct ids. The only real shuffle is the final distinct on the
    (rare) contaminated ids; the 100 TB train side never shuffles its text.
    """
    ev = (
        eval_df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("__ng__"))
        .distinct()
    )
    tr = train.select(F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("__ng__"))
    return tr.join(F.broadcast(ev), "__ng__", "left_semi").select(id_col).distinct()


def decontaminate(train: SDF, eval_df: SDF, id_col: str = "doc_id", text_col: str = "text", n: int = 6) -> SDF:
    """Remove train docs that share any word n-gram with the eval set
    (the standard pre-training decontamination pass, cf. GPT-3 appendix C
    13-gram overlap). Returns the clean train slice."""
    bad = contaminated_ids(train, eval_df, id_col, text_col, n)
    return train.join(bad, id_col, "left_anti")


def chunk_documents(df: SDF, id_col: str = "doc_id", text_col: str = "text",
                    chunk_size: int = 128, overlap: int = 16) -> SDF:
    """Sliding-window chunking: each document becomes ceil((len-overlap)/
    (size-overlap)) chunks of ``chunk_size`` whitespace tokens, consecutive
    chunks sharing ``overlap`` tokens (the standard RAG/embedding chunker).

    Plan shape: split -> sequence -> posexplode -> slice/array_join — every
    step a built-in expression in the SCAN stage. No shuffle, no UDF: at
    100 TB this runs at full scan speed, one task per input split.
    Output: (id, chunk_id, n_tokens, chunk_text).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    words = _norm_words(F.col(text_col))
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((F.size(words) - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("int"),
    )
    rows = df.select(
        F.col(id_col),
        words.alias("__w__"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("__p__", "chunk_id"),
    )
    piece = F.slice(F.col("__w__"), F.col("chunk_id") * stride + 1, chunk_size)
    return rows.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_sequences(df: SDF, id_col: str, token_col: str, capacity: int) -> SDF:
    """Concatenate-and-split sequence packing: documents are laid out in
    ``id_col`` order into a single token stream that is cut every
    ``capacity`` tokens (the standard pre-training packing model — a doc
    whose span crosses a cut is split across two bins).

    Adds: ``offset`` (global token start), ``first_bin``/``last_bin``
    (bins this doc lands in), ``straddles`` (crosses a cut).

    Scale: the global running sum is a two-phase blocked cumsum — range
    shuffle on ``id_col``, per-partition window cumsum, plus a broadcast
    join against a (#partitions)-row offset table. No single-task global
    window at any width.
    """
    # deterministic value-derived buckets: range-shuffle pids re-sample
    # boundaries per plan branch and would misalign the offsets join (see
    # core.frame.order_bucket_sql)
    from modin_spark.core.frame import (
        CARRY_FWD, ORDER_BUCKET_LO, carry_join, carry_key, carry_table, order_bucket_expr)

    _np = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    bkt = order_bucket_expr(df, id_col)
    if bkt is not None:
        t = df.withColumn("__pid__", F.coalesce(bkt, F.lit(ORDER_BUCKET_LO))
                          ).repartition(_np, "__pid__")
    else:
        t = df.repartitionByRange(_np, F.col(id_col)).withColumn(
            "__pid__", F.spark_partition_id())
    w = Window.partitionBy("__pid__").orderBy(id_col)
    t = t.withColumn("__run__", F.sum(F.col(token_col).cast("long")).over(w))
    if bkt is not None:
        # per-bucket totals don't need the running sum: aggregate the RAW
        # tokens keyed by the same deterministic bucket expression, BEFORE
        # the shuffle — map-side partial agg on the scan instead of
        # replaying the repartition exchange + sort + window in this branch
        # (guide §2.3/§2.4; max(run) per pid == sum(tokens) per pid)
        parts = df.select(
            F.coalesce(bkt, F.lit(ORDER_BUCKET_LO)).alias("__pid__"),
            F.col(token_col).cast("long").alias("__tk__"),
        ).groupBy("__pid__").agg(F.sum("__tk__").alias("__psum__"))
    else:
        # range-shuffle pids only exist post-shuffle
        parts = t.groupBy("__pid__").agg(F.max("__run__").alias("__psum__"))
    offs = carry_table(parts, "__pid__", [("__off__", "sum(__psum__)", CARRY_FWD, 0)])
    t = carry_join(t, offs, "__pid__", "inner")
    end = F.col("__off__") + F.col("__run__")  # exclusive end of this doc's span
    start = end - F.col(token_col)

    # exact integer floor division (same fix class as rolling_time_agg's
    # bucketing): start/capacity as doubles rounds near 2^53 tokens and
    # could land a doc in the wrong bin at extreme corpus sizes
    def _bin(e):
        return ((e - F.pmod(e, F.lit(capacity))).cast("decimal(38,0)") / F.lit(capacity)).cast("long")

    out = (
        t.withColumn("offset", start.cast("long"))
        .withColumn("first_bin", _bin(start))
        .withColumn("last_bin", _bin(end - 1))
    )
    out = out.withColumn("straddles", F.col("first_bin") != F.col("last_bin"))
    return out.drop("__pid__", carry_key("__pid__"), "__run__", "__psum__", "__off__")


def _md5_bucket(key: Column) -> Column:
    """First 4 hex digits of md5(key-as-string): a uniform deterministic
    16-bit bucket, identical in Spark and any engine with standard md5."""
    return F.substring(F.md5(key.cast("string")), 1, 4)


def hash_frac_filter(key: Column, frac: float) -> Column:
    """Deterministic keep-with-probability-``frac`` predicate: md5-hex
    prefix compared against the hex threshold floor(frac * 2**16). Pure
    per-row function — no RNG, stable under reruns/repartitioning, and
    reproducible in a SQL oracle via the same md5 prefix compare."""
    if frac >= 1.0:
        return F.lit(True)
    if frac <= 0.0:
        return F.lit(False)
    return _md5_bucket(key) < F.lit(format(int(frac * 65536), "04x"))


def stratified_sample(df: SDF, strata_col: str, fracs: dict[str, float], key_col: str,
                      default_frac: float = 0.0) -> SDF:
    """Deterministic per-stratum downsampling: each stratum keeps its own
    hash fraction of rows (domain/language mixing weights). Narrow — a
    single filter at scan speed, no shuffle, no RNG."""
    key = F.col(key_col)
    pred = F.lit(None).cast("boolean")
    expr = None
    for s, frac in fracs.items():
        cond = F.col(strata_col) == s
        branch = hash_frac_filter(key, frac)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    pred = (expr.otherwise(hash_frac_filter(key, default_frac))
            if expr is not None else hash_frac_filter(key, default_frac))
    return df.where(pred)


def mixture_sample(df: SDF, domain_col: str, weights: dict[str, float],
                   total_tokens: int, key_col: str, text_col: str = "text") -> SDF:
    """Token-BUDGETED mixture sampling (the pretraining data-mixing
    primitive): domain ``d`` targets ``weights[d] * total_tokens`` tokens,
    so its rows keep with probability min(1, target_d / domain_tokens_d)
    under the same deterministic md5 predicate as stratified_sample.
    Unweighted domains drop entirely.

    Plan shape: ONE small per-domain token aggregate (k rows) broadcast
    back, then a pure per-row hash filter — the corpus itself never
    shuffles, and the decision is a pure function of the row (rerun/
    repartition-stable, bit-reproducible in a SQL oracle)."""
    toks = F.size(F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""))
    dom = df.groupBy(domain_col).agg(F.sum(toks.cast("long")).alias("__dtok__"))
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    j = df.join(F.broadcast(dom), domain_col, "left")
    # coalesce the weight BEFORE least(): least ignores nulls, so an
    # unweighted domain would otherwise collapse to rate 1.0 instead of 0
    weight = F.coalesce(wmap[F.col(domain_col)].cast("double"), F.lit(0.0))
    target = weight * F.lit(float(total_tokens))
    rate = F.least(F.lit(1.0), target / F.col("__dtok__").cast("double"))
    # rate >= 1 short-circuits: floor(1.0 * 65536) would print 5 hex digits
    # and break the 4-char lexicographic compare
    thresh = F.format_string("%04x", F.floor(rate * F.lit(65536)).cast("int"))
    keep = (rate >= 1.0) | (_md5_bucket(F.col(key_col)) < thresh)
    return j.where(keep).drop("__dtok__")


def domain_cap(df: SDF, domain_col: str, cap: int, key_col: str) -> SDF:
    """Keep at most ``cap`` rows per domain, chosen by deterministic hash
    order (md5 of the key, key tiebreak) so the survivors are an unbiased,
    rerun-stable sample of each domain. One shuffle on the domain key;
    heavy domains stay bounded because row_number streams within the sort
    (no per-group materialization)."""
    w = Window.partitionBy(domain_col).orderBy(_md5_bucket(F.col(key_col)), F.col(key_col))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= cap)
        .drop("__rn__")
    )


def topk_ngrams(df: SDF, text_col: str = "text", n: int = 2, k: int = 20) -> SDF:
    """Corpus-wide top-k word n-grams with counts (vocabulary building /
    boilerplate discovery). explode -> groupBy(count) gets a map-side
    partial aggregate from Catalyst, so the shuffle carries one row per
    distinct n-gram per task, not one per occurrence; the final top-k is a
    TakeOrdered over (count desc, ngram asc) — deterministic ties."""
    ex = df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("ngram"))
    counts = ex.groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("ngram").asc()).limit(k)


def label_centroids(df: SDF, label_col: str = "label", vec_col: str = "embedding") -> SDF:
    """Per-label centroid of an embedding column, as (label, pos, c) rows.
    posexplode -> groupBy(label, pos).avg: partial aggregation makes the
    shuffle k*dim rows regardless of corpus size — the vectors themselves
    never shuffle."""
    ex = df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v"))
    return ex.groupBy(label_col, "pos").agg(F.avg(F.col("v").cast("double")).alias("c"))


def classifier_score(df: SDF, weights: list[float], bias: float = 0.0,
                     vec_col: str = "embedding", out_col: str = "score") -> SDF:
    """Linear-classifier inference over an embedding column (the standard
    model-based quality-filter pass: score = sigmoid(w·x + b), keep above
    threshold). The weight vector rides into the plan as a literal array —
    broadcast by construction — and the dot product is a zip_with/aggregate
    fold in the scan stage: no UDF, no shuffle, 100 TB = a map-only pass."""
    w = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), w, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z = dot + F.lit(float(bias))
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def assign_shards(df: SDF, id_col: str, token_col: str, target_tokens: int) -> SDF:
    """Token-balanced output sharding: documents laid out in ``id_col``
    order get ``shard = floor(token_start / target_tokens)`` — every shard
    holds ~``target_tokens`` tokens (within one document of the target),
    and shard ids are monotone in document order so readers stream the
    corpus in sequence.

    Rides the same two-phase blocked cumsum as :func:`pack_sequences`
    (range shuffle + broadcast offset table) — no global window, no
    driver data. At 100 TB the only added cost over a plain write is the
    one range shuffle that a deterministic layout requires.
    """
    packed = pack_sequences(df, id_col, token_col, target_tokens)
    return packed.withColumn("shard", F.col("first_bin")).drop(
        "offset", "first_bin", "last_bin", "straddles"
    )


def write_corpus_shards(df: SDF, path: str, id_col: str, token_col: str,
                        target_tokens: int, fmt: str = "parquet") -> None:
    """Write the corpus as token-balanced shard directories
    (``shard=K/part-*``). One shuffle on the shard id groups each shard's
    rows; ``partitionBy`` splits residual hash-collisions into separate
    shard directories, so a shard is always read back whole."""
    t = assign_shards(df, id_col, token_col, target_tokens)
    n_shards = t.agg(F.max("shard")).collect()[0][0] + 1
    (t.repartition(int(n_shards), F.col("shard"))
      .write.mode("overwrite").partitionBy("shard").format(fmt).save(path))
