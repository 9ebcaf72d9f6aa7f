"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join), SimHash, and n-gram Jaccard — all DataFrame-native;
hashing is JVM-side xxhash64/md5, candidate generation is a self-join
on band buckets (shuffle on bucket key, no O(n²) cross join).

Scale notes: at 10^12 documents the LSH band join is the only pairwise
stage, and its cost is bounded by bucket sizes — hot buckets (boiler-
plate text) should be capped (`max_bucket`) exactly like skewed
aggregation keys are salted (SURVEY.md A8).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType

from tokens_ts.grams import gram_key, grams, shingles, words


def exact_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash (md5) — one shuffle."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("n_dup"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def word_shingles(text_col: str = "text", k: int = 3):
    """k-gram word shingles as a distinct string array (expression);
    a doc shorter than k words yields one whole-doc shingle."""
    return F.array_distinct(shingles(words(text_col), k))


_LONG_MAX = (1 << 63) - 1


def _perm_hash(s, j: int, hash_mode: str):
    """Permutation-j hash of shingle s. 'xxhash' is the production
    choice (fast JVM hash, seeded natively); 'md5' derives a 60-bit
    int from md5(s + '#' + j) — slower, but DuckDB computes the exact
    same value, which upgrades the LSH driver pair from rows-only to a
    full value-hash check."""
    if hash_mode == "xxhash":
        return F.xxhash64(s, F.lit(j))
    if hash_mode == "md5":
        return md5_60(F.concat_ws("#", s, F.lit(str(j))))
    raise ValueError(f"hash_mode must be 'xxhash' or 'md5', got {hash_mode!r}")


def with_minhash(
    docs: DataFrame,
    n_perm: int = 32,
    text_col: str = "text",
    hash_mode: str = "xxhash",
) -> DataFrame:
    """MinHash signature: min over shingles of hash(shingle, seed).

    Single-pass: ONE traversal of the shingle array with an
    array<long>[n_perm] accumulator folded by element-wise least —
    instead of n_perm separate transform+array_min passes (n_perm
    intermediate arrays per row). Hash count is identical; array
    traffic drops n_perm-fold."""
    df = docs.withColumn("_sh", word_shingles(text_col))
    init = F.array_repeat(F.lit(_LONG_MAX).cast("long"), n_perm)
    sig = F.aggregate(
        F.col("_sh"),
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[_perm_hash(s, j, hash_mode) for j in range(n_perm)]),
            lambda x, y: F.least(x, y),
        ),
    )
    return df.withColumn("minhash", sig).drop("_sh")


def band_rows(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    hash_mode: str = "xxhash",
) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows — the persistent index rows
    an incremental dedup pipeline stores per document."""
    r = n_perm // bands
    sigs = with_minhash(docs, n_perm, text_col, hash_mode).select(
        "doc_id", "minhash"
    )

    def bucket_key(b: int):
        sl = F.slice("minhash", b * r + 1, r)
        if hash_mode == "xxhash":
            return F.xxhash64(sl.cast("string")).cast("string")
        return F.array_join(F.transform(sl, lambda x: x.cast("string")), ",")

    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_key(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def _sized_buckets(rows: DataFrame, max_bucket: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    return rows.withColumn("bsz", F.count("*").over(w)).where(
        (F.col("bsz") >= 2) & (F.col("bsz") <= max_bucket)
    )


def lsh_candidates(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    max_bucket: int = 1000,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """MinHash-LSH candidate pairs: band-hash → bucket self-join.

    rows_per_band = n_perm // bands; two docs collide if any band of
    their signatures is identical. Bucket sizes above max_bucket are
    dropped (degenerate boilerplate buckets would otherwise explode
    the join at web scale). hash_mode='md5' makes every value DuckDB-
    reproducible (bucket key = the band values joined as a string)."""
    # the capped bucket frame backs both sides of the self-join:
    # cache it so the shingle→minhash→band pipeline runs once
    # (r6 single-scan rule)
    sized = _sized_buckets(
        band_rows(docs, n_perm, bands, text_col, hash_mode), max_bucket
    ).cache()
    a = sized.select("band", "bucket", F.col("doc_id").alias("a"))
    b = sized.select("band", "bucket", F.col("doc_id").alias("b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return pairs


def lsh_incremental(
    new_docs: DataFrame,
    old_bands: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    max_bucket: int = 1000,
    hash_mode: str = "xxhash",
) -> tuple[DataFrame, DataFrame]:
    """Incremental LSH maintenance: candidate pairs INVOLVING the new
    batch, touching the stored index only in buckets the batch hits.

    A continuous ingestion pipeline cannot re-run all-corpus LSH per
    batch; it stores `band_rows` as an index table and, per batch:
    (1) computes the batch's band rows, (2) left-semi-prunes the index
    to the touched (band, bucket) keys — at 10^12 docs this is the
    difference between reading a few buckets and rescanning the corpus
    (partition/row-group pruning on the bucket key does it for free),
    (3) sizes the combined buckets with the SAME [2, max_bucket] cap
    as the batch operator, (4) emits pairs with at least one new side.

    Returns (pairs, new_band_rows); the caller appends new_band_rows
    to the index. For buckets whose combined size stays within the
    cap, old∪incremental equals the full-batch recompute exactly
    (pytest-pinned); a bucket that OVERFLOWS the cap only as it grows
    stops emitting new pairs, but pairs already emitted are not
    retroactively dropped — the periodic full recompute (compaction)
    is where re-capping happens.
    """
    new_rows = band_rows(new_docs, n_perm, bands, text_col, hash_mode)
    touched = new_rows.select("band", "bucket").distinct()
    old_touched = old_bands.join(touched, ["band", "bucket"], "left_semi")
    all_rows = old_touched.withColumn("_new", F.lit(False)).unionByName(
        new_rows.withColumn("_new", F.lit(True))
    )
    sized = _sized_buckets(all_rows, max_bucket)
    a = sized.select(
        "band", "bucket", F.col("doc_id").alias("a"), F.col("_new").alias("_an")
    )
    b = sized.select(
        "band", "bucket", F.col("doc_id").alias("b"), F.col("_new").alias("_bn")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .where((F.col("a") < F.col("b")) & (F.col("_an") | F.col("_bn")))
        .select("a", "b")
        .distinct()
    )
    return pairs, new_rows


def connected_components(
    pairs: DataFrame, max_iter: int = 25, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Candidate pairs → duplicate CLUSTERS: (doc_id, component) where
    component = min doc_id reachable through the pair graph.

    Dedup needs clusters, not pairs: "keep one of {A,B} and one of
    {B,C}" double-keeps B unless A-B-C collapses into one component
    first. Algorithm: distributed min-label propagation — labels start
    as the node id; each round joins labels across edges and takes the
    elementwise min; monotone and exact, converging in O(component
    diameter) rounds. LSH candidate components are near-cliques (every
    member collides with most others through some band), so diameters
    are small constants; each round is ONE shuffle join + one agg at
    10^12 scale, with localCheckpoint between rounds to stop lineage
    growth. A pathological long-chain graph (not a dedup shape) would
    need the Kiveris et al. alternating-star variant; rather than
    silently mislabel, this raises after max_iter unconverged rounds.

    Only nodes that appear in some pair are returned (singletons are
    their own trivial component and never reach this operator).

    Per-round cost: ONE shuffle join+agg (the propagation pass — the
    convergence flag `_changed` is computed inside that same pass, not
    by a second compare-join) plus a limit-1 scan of the checkpointed
    result. Superseded label checkpoints and the edges checkpoint are
    unpersisted as soon as they are no longer reachable, so executor
    storage holds at most two label snapshots at any time instead of
    O(rounds) for the life of the session.
    """
    spark = pairs.sparkSession
    jsc = spark.sparkContext._jsc

    def _pids() -> set:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    def _ckpt(df):
        """localCheckpoint + the storage ids it created, so the blocks
        can be freed once superseded (DataFrame.localCheckpoint offers
        no unpersist handle). Id attribution assumes no concurrent
        checkpointing thread in this session — true for this operator's
        driver-side loop."""
        before = _pids()
        out = df.localCheckpoint(eager=True)
        return out, _pids() - before

    def _free(ids) -> None:
        m = jsc.getPersistentRDDs()
        for i in ids:
            if m.containsKey(i):
                m.get(i).unpersist(False)

    edges, edge_ids = _ckpt(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(
            pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
    )
    labels, label_ids = _ckpt(
        edges.select("u").distinct().select("u", F.col("u").alias("component"))
    )
    try:
        for _ in range(max_iter):
            # candidate label for v = min label among its neighbors u;
            # the convergence flag rides in the SAME propagation pass
            via = (
                edges.join(labels, "u")
                .groupBy(F.col("v").alias("u"))
                .agg(F.min("component").alias("nbr_component"))
            )
            new_labels, new_ids = _ckpt(
                labels.join(via, "u", "left").select(
                    "u",
                    F.least(
                        "component", F.coalesce("nbr_component", "component")
                    ).alias("component"),
                    (F.coalesce("nbr_component", "component") < F.col("component"))
                    .alias("_changed"),
                )
            )
            # cheap probe over the just-checkpointed blocks: no join
            converged = new_labels.where("_changed").limit(1).isEmpty()
            _free(label_ids)
            labels, label_ids = new_labels, new_ids
            if converged:
                return labels.select(F.col("u").alias("doc_id"), "component")
        _free(label_ids)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "component diameter exceeds the dedup-shaped bound; raise "
            "max_iter or switch to the alternating-star variant"
        )
    finally:
        # the returned labels checkpoint stays alive (the caller reads
        # from it); edges are never needed after the loop
        _free(edge_ids)


def survivor_selection(scored: DataFrame, score_col: str = "n_words") -> DataFrame:
    """Per duplicate component, keep the member with the highest score;
    ties → smallest doc_id. `scored` = (component, doc_id, <score_col>).

    The keep policy is a STRUCT comparator — min_by over lexicographic
    (-score, doc_id) — so it is valid at ANY doc_id range AND any
    orderable doc_id type (bigint or string ids both sort correctly;
    only the score must be numeric). A composite scalar key
    (score·K − doc_id) would overflow/misrank once ids pass K. One
    broadcast-scale aggregation; no window over the corpus."""
    return scored.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col(score_col)).alias("neg_s"),
                F.col("doc_id").alias("id"),
            ),
        ).alias("keep_doc_id"),
        F.max(score_col).alias(f"keep_{score_col}"),
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """Benchmark decontamination: per-doc n-gram overlap against an
    eval/benchmark set — the standard curation step that keeps test-set
    text out of training data.

    The eval set's distinct shingle hashes are BROADCAST (eval suites
    are thousands of docs — trivially broadcastable at any corpus
    scale); the corpus side explodes its shingles once, marks hits with
    a broadcast left join (no shuffle until the regroup), and reduces
    per doc with map-side partial aggregation. Output grain: one row
    per corpus doc — (doc_id, source, n_shingles, n_hit, overlap_ratio)
    with overlap_ratio = |doc ∩ eval| / |doc shingles|. Threshold
    policy belongs to the caller (flag / drop / route to review).

    hash_mode='md5' (md5_60) keeps every value DuckDB-reproducible for
    the driver's cross-engine check; 'xxhash' is the cheap production
    hash."""
    if hash_mode == "md5":
        hash_of = md5_60
    elif hash_mode == "xxhash":
        hash_of = F.xxhash64
    else:
        raise ValueError(f"hash_mode must be 'xxhash' or 'md5', got {hash_mode!r}")

    eval_hashes = (
        eval_docs.select(F.explode(word_shingles(text_col, n)).alias("s"))
        .select(hash_of(F.col("s")).alias("h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = docs.select(
        "doc_id", "source", F.explode(word_shingles(text_col, n)).alias("s")
    ).select("doc_id", "source", hash_of(F.col("s")).alias("h"))
    marked = corpus.join(F.broadcast(eval_hashes), "h", "left")
    return marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
    ).withColumn(
        "overlap_ratio",
        F.col("n_hit").cast("double") / F.col("n_shingles").cast("double"),
    )


def md5_60(col):
    """Shared-by-both-engines 60-bit hash: the first 15 hex chars of
    md5, as a bigint. DuckDB mirror:
    CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) — this is what
    lets SimHash pairs get a full cross-engine value-hash check instead
    of a rows-only one (xxhash64 has no DuckDB twin)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _simhash_expr(hash_fn, n_bits: int):
    """sign-of-majority SimHash over the `_sh` shingle array.

    Single pass: hash each shingle ONCE (hoisted into `_h` — a hash
    referenced inside the per-bit lambda would be re-evaluated n_bits
    times per shingle, Catalyst does not CSE across lambdas), fold the
    hashes into an array<int>[n_bits] of ±1 counters (zip_with add),
    then collapse counters>0 into bit j of the signature."""
    hashes = F.transform(F.col("_sh"), hash_fn)
    # call_function: the SQL getbit/shiftleft take expression positions;
    # the python wrappers insist on ints, which a lambda variable isn't
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bits - 1)),
                lambda j: F.when(
                    F.call_function("getbit", h, j) == 1, 1
                ).otherwise(-1),
            ),
            lambda x, y: x + y,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda c, j: F.when(
                c > 0,
                F.call_function("shiftleft", F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word shingles (xxhash64 production hash)."""
    df = docs.withColumn("_sh", word_shingles(text_col))
    return df.select(
        "doc_id", _simhash_expr(lambda s: F.xxhash64(s), 64).alias("simhash")
    )


def simhash_candidates(
    docs: DataFrame,
    n_bits: int = 60,
    bands: int = 4,
    max_hamming: int = 8,
    text_col: str = "text",
    hash_fn=md5_60,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via banded Hamming buckets.

    Pigeonhole: two signatures within Hamming distance < bands must
    agree exactly on at least one of the `bands` contiguous bit bands
    — so candidate generation is an equi-self-join on (band, band
    bits), never all-pairs, and each candidate is then verified with
    the full popcount(xor) ≤ max_hamming. Recall is GUARANTEED only
    for distance < bands; beyond that it is probabilistic — raise
    `bands` (narrower bands) to push the guarantee out, at the cost
    of coarser buckets (the classic recall/bucket-size dial; Manku et
    al. WWW'07 block-permutation tables are the general form). Hot
    buckets are capped like skewed agg keys (A8 salting analog).
    Default hash is md5_60 so the whole query is DuckDB-expressible
    for the driver's value-hash check."""
    if n_bits % bands:
        raise ValueError(
            f"bands={bands} must divide n_bits={n_bits}: a remainder would "
            "leave the top bits out of every band and silently lose recall"
        )
    r = n_bits // bands
    sigs = docs.withColumn("_sh", word_shingles(text_col)).select(
        "doc_id", _simhash_expr(hash_fn, n_bits).alias("simhash")
    )
    band_rows = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * r)
                        .bitwiseAND(F.lit((1 << r) - 1).cast("long"))
                        .alias("bits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bits")
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bits")
    # the capped bucket frame backs both sides of the self-join:
    # cache it so the shingle→simhash→band pipeline runs once
    # (r6 single-scan rule, same as lsh_candidates)
    sized = band_rows.withColumn("bsz", F.count("*").over(w)).where(
        (F.col("bsz") >= 2) & (F.col("bsz") <= max_bucket)
    ).cache()
    a = sized.select("band", "bits", F.col("doc_id").alias("a"), F.col("simhash").alias("sa"))
    b = sized.select("band", "bits", F.col("doc_id").alias("b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        a.join(b, ["band", "bits"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def token_contamination(
    seq: DataFrame,
    eval_seq: DataFrame,
    n: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    source_col: str = "source",
    pad_id: int = 0,
) -> DataFrame:
    """Decontamination on TOKEN IDS — contamination()'s twin for
    pre-tokenized corpora, where re-detokenizing just to shingle text
    would be wasteful and lossy: per corpus sequence, the fraction of
    its sliding token n-grams (PAD-stripped first, so padding never
    manufactures or breaks a match) that appear anywhere in the eval
    set's n-gram set.

    Same scale shape as contamination(): the eval side's distinct
    gram keys are broadcast (eval suites are small by definition),
    the corpus explodes its grams ONCE, and one map-side-combined
    regroup emits per-doc counts — no corpus-side shuffle before the
    final agg. Sequences with < n non-PAD tokens survive with
    n_grams = 0 and a null ratio (explode_outer) rather than silently
    vanishing. Grams are compared by their grams.gram_key (exact; int
    and bigint id tables compare by value)."""
    et, ev = (
        f.schema[tokens_col].dataType.elementType for f in (seq, eval_seq)
    )
    dtype = et if et == ev else LongType()

    clean = F.filter(F.col(tokens_col), lambda x: x != pad_id)
    keys = gram_key(clean, n, dtype)

    eval_hashes = (
        eval_seq.select(F.explode(keys).alias("h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = seq.select(id_col, source_col, F.explode_outer(keys).alias("h"))
    marked = corpus.join(F.broadcast(eval_hashes), "h", "left")
    agg = marked.groupBy(id_col, source_col).agg(
        F.sum(
            F.when(F.col("h").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_grams"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_hit"),
    )
    return agg.withColumn(
        "overlap_ratio",
        F.try_divide(F.col("n_hit"), F.col("n_grams")),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-char gram, then keep the MINIMUM hash of each w-gram window —
    the guarantee-bearing selection (any match of length ≥ k+w−1
    between two docs shares a selected fingerprint, which fixed-stride
    sampling cannot promise). The per-doc fingerprint SET is the
    plagiarism / near-copy index key.

    Entirely ROW-LOCAL: gram hashes, window minima, and the distinct
    set are array expressions over the doc's own text (O(m·w) work per
    row, no shuffle, embarrassingly parallel — at 100 TB this is a
    mapper). The tie rule (rightmost-min vs leftmost-min) does not
    affect the fingerprint SET — only which position gets recorded —
    so the set output is tie-free by construction. Docs shorter than
    k+w−1 chars have no full window and are dropped (pinned). Hashes
    are md5_60, so the whole op is DuckDB-reproducible; fp_md5 digests
    the ascending-sorted set for O(1) cross-engine comparison."""
    n = F.length(F.col(text_col))
    m = n - k + 1  # number of k-grams
    hs = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: md5_60(F.substring(F.col(text_col), i, F.lit(k))),
    )
    base = docs.where(n >= k + w - 1).select(
        id_col, m.cast("bigint").alias("n_grams"), hs.alias("_hs")
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("n_grams") - w + 1),
            lambda j: F.array_min(F.slice("_hs", j, w)),
        )
    )
    return base.select(
        id_col,
        "n_grams",
        F.size(fps).cast("bigint").alias("n_fp"),
        F.md5(
            F.concat_ws(
                ",", F.transform(F.sort_array(fps), lambda x: x.cast("string"))
            )
        ).alias("fp_md5"),
    )


def normalized_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup after canonicalization — the cheap fuzzy-dup tier
    between byte-exact dedup and MinHash (case, punctuation, and
    whitespace variants of the same document are the most common
    near-dups in web corpora, and they hash apart byte-exactly):
    canon = trim(lower(text) with every [^a-z0-9]+ run → one space).

    One hash-groupBy shuffle on md5(canon) (the canon string itself
    never shuffles); emits only groups with ≥ 2 members, keeping the
    min doc_id as survivor (deterministic at any id range — ids here
    are numeric-or-string orderable, no negation involved)."""
    canon = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    return (
        docs.select(id_col, F.md5(canon).alias("canon_md5"))
        .groupBy("canon_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
) -> DataFrame:
    """ASYMMETRIC containment C(a→b) = |Sa ∩ Sb| / |Sa| over k-word
    shingle sets, both directions per pair — the quote/subset detector
    Jaccard structurally misses: a paragraph wholly contained in a
    10×-longer doc has Jaccard ≈ 0.1 (passes every dedup gate) but
    containment 1.0. Emitted when EITHER direction ≥ threshold.

    Like ngram_jaccard this is the exact verification-side tool over
    block-bounded candidate pairs (same `block_col` equi-join + id<id
    shape); the 100-TB candidate generator stays the capped LSH bucket
    join — feed its pairs through this scorer instead of the blocked
    join when blocks are large. Counts are integers; both ratios are
    single divisions (IEEE-exact cross-engine)."""
    d = docs.withColumn("_sh", word_shingles(text_col, k))
    a = d.select(
        F.col(id_col).alias("a"), F.col(block_col).alias("_blk"),
        F.col("_sh").alias("_sa"),
    )
    b = d.select(
        F.col(id_col).alias("b"), F.col(block_col).alias("_blk"),
        F.col("_sh").alias("_sb"),
    )
    j = a.join(b, "_blk").where(F.col("a") < F.col("b"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    out = j.select(
        "a",
        "b",
        inter.cast("bigint").alias("n_common"),
        (inter.cast("double") / F.size("_sa")).alias("cont_a_in_b"),
        (inter.cast("double") / F.size("_sb")).alias("cont_b_in_a"),
    )
    return out.where(
        (F.col("cont_a_in_b") >= threshold)
        | (F.col("cont_b_in_a") >= threshold)
    )


def edit_similarity_pairs(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1000,
    hash_mode: str = "xxhash",
    min_sim_pct: int = 80,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: MinHash-LSH
    candidates (capped buckets — never an all-pairs join) verified
    with EXACT character-level Levenshtein distance, the strictest
    near-dup criterion in the chain (shingle Jaccard is order-blind;
    SimHash is lossy; edit distance is the literal rewrite cost).

    The acceptance test is INTEGER-exact: keep a pair iff
      lev * 100 <= (100 - min_sim_pct) * max(len_a, len_b)
    (similarity = 1 - lev/max_len >= pct, boundary INCLUSIVE), so the
    cut is cross-engine identical; sim_e6 = round((1 - lev/m)*1e6) is
    derived from the same two integers (IEEE division of identical
    ints) on both engines.

    Scale shape: candidates are bucket-capped by the LSH stage; the
    two text lookups are equi-joins on the id; levenshtein runs
    JVM-side (F.levenshtein, whole-stage codegen) at O(len_a*len_b)
    per CANDIDATE — the bounded verify cost every production near-dup
    pipeline pays, never O(corpus^2)."""
    cand = lsh_candidates(
        docs, n_perm=n_perm, bands=bands, text_col=text_col,
        max_bucket=max_bucket, hash_mode=hash_mode,
    )
    ta = docs.select(
        F.col(id_col).alias("a"), F.col(text_col).alias("_ta")
    )
    tb = docs.select(
        F.col(id_col).alias("b"), F.col(text_col).alias("_tb")
    )
    lev = F.levenshtein("_ta", "_tb")
    m = F.greatest(F.length("_ta"), F.length("_tb"))
    out = (
        cand.join(ta, "a").join(tb, "b")
        .select(
            "a", "b",
            lev.cast("bigint").alias("lev"),
            m.cast("bigint").alias("max_len"),
        )
        .where(F.col("lev") * 100 <= (100 - min_sim_pct) * F.col("max_len"))
    )
    return out.select(
        "a", "b", "lev", "max_len",
        F.round((1.0 - F.col("lev") / F.col("max_len")) * 1e6)
        .cast("bigint").alias("sim_e6"),
    )


def dedup_funnel(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source dedup funnel summary: raw docs → byte-exact unique
    (md5(text)) → canonicalized unique (the normalized_dedup rule:
    lower, non-alnum runs → one space, trim) with the doc and token
    mass removed at each stage — the one-table answer to 'how dirty
    is this source', and the acceptance report a curation run ships
    (the per-pair machinery above finds the dups; this prices them).

    Pins: token mass = whitespace tokens of each REMOVED doc, where a
    group of g byte-identical docs removes g−1 and the survivor is
    free, so removed_tokens = Σ_group (g−1)·tok(one member) — members
    are byte-identical so any member's count works (exact). Stage 2
    counts canon-unique among the byte-exact SURVIVOR set: the funnel
    is sequential, each stage prices only its OWN catch.

    Scale shape: two hash-groupBy passes (md5 keys, never the text)
    + one sources-bounded agg."""
    nw = F.size(words(text_col)).cast("bigint")
    canon = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    d = docs.select(
        source_col,
        nw.alias("_nw"),
        F.md5(F.col(text_col)).alias("_h"),
        F.md5(canon).alias("_c"),
    )
    g1 = d.groupBy(source_col, "_h", "_c").agg(
        F.count("*").cast("bigint").alias("g"),
        F.first("_nw").alias("_nw"),
    )
    g2 = g1.groupBy(source_col, "_c").agg(
        F.sum(F.lit(1).cast("bigint")).alias("ng"),
        F.sum((F.col("g") - 1) * F.col("_nw")).alias("_exact_tok"),
        F.sum(F.col("g")).alias("_raw"),
        F.sum(F.col("_nw")).alias("_surv_tok"),
        F.min("_nw").alias("_min_tok"),
    )
    return g2.groupBy(source_col).agg(
        F.sum("_raw").cast("bigint").alias("n_raw"),
        F.sum("ng").cast("bigint").alias("n_exact_unique"),
        F.count("*").cast("bigint").alias("n_canon_unique"),
        F.sum("_exact_tok").cast("bigint").alias("exact_removed_tokens"),
        (F.sum("_surv_tok") - F.sum("_min_tok"))
        .cast("bigint")
        .alias("canon_removed_tokens_ub"),
    )


def dup_span_coverage(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication coverage per document (the
    suffix-array dedup metric from "Deduplicating Training Data Makes
    Language Models Better", word-gram form): a word position is
    COVERED iff it lies inside any word k-gram that occurs ≥2 times
    corpus-wide (self-repeats count — duplication is duplication
    whether the twin lives in the same doc or another). Emits per doc
    n_words, covered, and cov_e6 = round(1e6·covered/n_words) — the
    quantity the Lee et al. pipeline would CUT. Complements
    doc_repetition (within-doc Gopher fraction) and doc_minhash_*
    (whole-doc near-dup): this is the span-level, corpus-wide view.

    Shapes for 10^12 docs: tokenize row-locally, build the per-doc
    gram list with one array transform (no per-gram window), ONE
    map-side-combined groupBy(gram) for corpus counts, join
    occurrences back on the SAME gram key (co-partitioned under AQE),
    explode only MATCHED grams ×k for position coverage, distinct +
    count per doc. No window over the corpus, no pairwise join; the
    gram shuffle is the same single heavy key any exact-substring
    dedup pays. Docs shorter than k words emit covered=0 rows (they
    cannot contain a k-gram)."""
    d = (
        docs.where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("doc_id"),
            words(text_col).alias("w"),
        )
        .withColumn("n_words", F.size("w").cast("bigint"))
    )
    # not grams.grams: its zip_with chain builds each k-word gram
    # through k-1 intermediate strings (about 20% slower at k = 5);
    # one array_join per start position over the materialized word
    # column re-evaluates nothing
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.col("n_words") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_words").cast("int") - k),
                    lambda i: F.array_join(
                        F.slice("w", i + 1, k), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("start", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("covered"))
    )
    return (
        d.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("covered"), F.lit(0).cast("bigint")).alias(
                "covered"
            ),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_words").cast("double")
                * 1e6
            )
            .cast("bigint")
            .alias("cov_e6"),
        )
    )


def minhash_accuracy(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    max_bucket: int = 1000,
    hash_mode: str = "md5",
) -> DataFrame:
    """Sketch-error audit for the MinHash index: for every LSH
    candidate pair, the signature's Jaccard ESTIMATE (matching
    components / n_perm) side by side with the EXACT shingle Jaccard,
    and the absolute error. The verification loop the dedup pipeline
    itself needs: n_perm and the banding are tuning knobs, and this
    table is what says whether 32 permutations actually resolve the
    0.7-vs-0.9 similarity decisions the near-dup threshold makes —
    measured on the pairs the index REALLY emits, not on theory.

    Everything is exact integers until one final double tree: matching
    components (element-wise signature compare), |A∩B| and |A∪B| of
    the distinct shingle sets (row-local array ops — no shingle
    explode, no gram join), err = |est/n_perm − inter/union| at e6.

    Scale shape: candidate pairs are bucket-capped (the lsh_candidates
    contract), then TWO hash joins attach each side's (shingles,
    signature) — per-pair cost is row-local; nothing quadratic, no
    corpus shuffle beyond the joins on doc_id."""
    pairs = lsh_candidates(
        docs, n_perm, bands, text_col, max_bucket, hash_mode
    )
    side = (
        with_minhash(docs, n_perm, text_col, hash_mode)
        .withColumn("_sh", word_shingles(text_col))
        .select("doc_id", "_sh", "minhash")
    )
    j = (
        pairs.join(
            side.select(
                F.col("doc_id").alias("a"),
                F.col("_sh").alias("_sha"),
                F.col("minhash").alias("_mha"),
            ),
            "a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("b"),
                F.col("_sh").alias("_shb"),
                F.col("minhash").alias("_mhb"),
            ),
            "b",
        )
    )
    est = F.aggregate(
        F.zip_with(
            F.col("_mha"),
            F.col("_mhb"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, z: acc + z,
    ).cast("bigint")
    ni = F.size(F.array_intersect("_sha", "_shb")).cast("bigint")
    nu = F.size(F.array_union("_sha", "_shb")).cast("bigint")
    err = F.abs(
        F.col("est_matches").cast("double") / F.lit(float(n_perm))
        - F.col("n_inter").cast("double") / F.col("n_union").cast("double")
    )
    return (
        j.select(
            "a",
            "b",
            est.alias("est_matches"),
            ni.alias("n_inter"),
            nu.alias("n_union"),
        )
        .withColumn("abs_err_e6", F.round(err * 1e6).cast("bigint"))
    )


def minhash_pr_curve(
    docs: DataFrame,
    taus_e6: tuple[int, ...] = (400_000, 500_000, 600_000, 700_000, 800_000, 900_000),
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    max_bucket: int = 1000,
    hash_mode: str = "md5",
) -> DataFrame:
    """Threshold operating curve for the MinHash index: at each
    near-dup threshold τ, of the candidate pairs the SIGNATURE calls
    duplicates (est ≥ τ), how many actually are (exact Jaccard ≥ τ) —
    precision — and of the true duplicates among candidates, how many
    the signature catches — sensitivity. The one-table answer to "can
    I act on the sketch alone at τ = 0.8, or must I verify?" —
    minhash_accuracy gives the per-pair errors, this gives the
    decision curve a pipeline threshold is actually chosen from.

    Exactness: BOTH threshold comparisons are integer cross-
    multiplications (est·1e6 ≥ n_perm·τ; n_inter·1e6 ≥ τ·n_union) —
    no rounding anywhere, so membership in every cell is exact; the
    two ratios are single double divisions. The τ sweep is a row-local
    explode of a constant array over the (bucket-capped) candidate
    pair frame — |taus| × pairs rows, then one τ-bounded agg."""
    acc = minhash_accuracy(
        docs, n_perm, bands, text_col, max_bucket, hash_mode
    )
    t = acc.select(
        "est_matches",
        "n_inter",
        "n_union",
        F.explode(
            F.array(*[F.lit(x).cast("bigint") for x in taus_e6])
        ).alias("tau_e6"),
    )
    est_pos = F.col("est_matches") * 1_000_000 >= F.lit(n_perm) * F.col("tau_e6")
    tru_pos = F.col("n_inter") * 1_000_000 >= F.col("tau_e6") * F.col("n_union")
    a = t.groupBy("tau_e6").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(est_pos, 1).otherwise(0)).cast("bigint").alias("n_est_pos"),
        F.sum(F.when(tru_pos, 1).otherwise(0)).cast("bigint").alias("n_exact_pos"),
        F.sum(F.when(est_pos & tru_pos, 1).otherwise(0)).cast("bigint").alias("n_true_pos"),
    )
    return a.select(
        "tau_e6",
        "n_pairs",
        "n_est_pos",
        "n_exact_pos",
        "n_true_pos",
        F.when(
            F.col("n_est_pos") > 0,
            F.round(
                F.col("n_true_pos").cast("double")
                / F.col("n_est_pos").cast("double")
                * 1e6
            ).cast("bigint"),
        ).alias("precision_e6"),
        F.when(
            F.col("n_exact_pos") > 0,
            F.round(
                F.col("n_true_pos").cast("double")
                / F.col("n_exact_pos").cast("double")
                * 1e6
            ).cast("bigint"),
        ).alias("sensitivity_e6"),
    )


def cross_source_dups(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    source_col: str = "source",
    max_bucket: int = 1000,
    hash_mode: str = "md5",
) -> DataFrame:
    """Near-duplicate FLOW MATRIX between sources: LSH candidate pairs
    bucketed by their (source_a, source_b) combination, with the
    within-source duplicate counts on the diagonal. The provenance
    question the flat pair list hides: is the duplication mostly
    internal boilerplate (diagonal-heavy — fix the extractor), or is
    one feed republishing another (one hot off-diagonal cell — fix the
    ingest list)? Cell counts are also the mixture-weight correction
    input: a source whose rows are mostly duplicated FROM another
    contributes less novel mass than its row count claims.

    Source pair is canonicalized least/greatest so A→B and B→A land in
    one cell. Exact integer counts end to end; one broadcast-scale
    join of the bucket-capped pair frame to the (doc_id, source) map,
    sources²-bounded output."""
    pairs = lsh_candidates(
        docs, n_perm, bands, text_col, max_bucket, hash_mode
    )
    m = docs.select("doc_id", F.col(source_col).alias("_src"))
    j = (
        pairs.join(
            m.select(F.col("doc_id").alias("a"), F.col("_src").alias("_sa")),
            "a",
        )
        .join(
            m.select(F.col("doc_id").alias("b"), F.col("_src").alias("_sb")),
            "b",
        )
    )
    return (
        j.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def dup_graph_census(pairs: DataFrame) -> DataFrame:
    """Triangle/wedge census of a duplicate-candidate graph — the
    STRUCTURE question the flat pair list and even the component
    census cannot answer: a size-10 family can be a clique (45 edges,
    template boilerplate — one canonical survivor suffices) or a
    chain (9 edges, gradual drift — transitive dedup may over-merge),
    and global transitivity = 3·triangles/wedges is the dial that
    separates them. Classic node-iterator triangle counting as two
    relational joins: edges are canonical a < b, a wedge is
    e1(a,b)⋈e2(b,c) on the shared MIDDLE node (a < b < c, so each
    triangle is generated exactly once as its sorted vertex triple),
    closed iff (a,c) is itself an edge — a left-semi join back to the
    edge list. Wedge mass is Σ C(deg,2) from one degree agg (counts
    every unordered path-of-2, the transitivity denominator).

    All counts exact bigints; transitivity is one final division at
    e6, null when the graph has no wedges. Skew bound: LSH bucket
    capping bounds every degree by bands·max_bucket, so the wedge
    join cannot explode on a boilerplate hub — the same cap that
    protects the pair join protects the census.

    Scale shape (r6): the candidate-pair frame feeds every subtree
    (degrees, wedges, closure), so it is CACHED — one candidate
    build instead of five Catalyst re-derivations. Wedges generate
    COMPACT-FORWARD: each edge is oriented toward its higher-
    (degree, id) endpoint and wedges form only between out-edges of
    the lower endpoint, so wedge volume drops from Σ C(deg,2) to
    Σ C(outdeg,2) with outdeg ≤ √(2m) — triangle counts are provably
    identical (each triangle appears exactly once, at its minimum-
    rank vertex, as its rank-sorted pair of out-edges, closed by the
    rank-oriented third edge). Degrees ride as a broadcast
    nodes-bounded dim; single-row output."""
    e = pairs.select("a", "b").distinct().cache()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    ).cache()
    nodes_edges = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias(
            "n_wedges"
        ),
    )
    ed = e.join(
        F.broadcast(deg.select(F.col("v").alias("a"), F.col("d").alias("da"))),
        "a",
    ).join(
        F.broadcast(deg.select(F.col("v").alias("b"), F.col("d").alias("db"))),
        "b",
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    dire = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dw"),
    ).cache()
    lower = (F.col("e1.dw") < F.col("e2.dw")) | (
        (F.col("e1.dw") == F.col("e2.dw")) & (F.col("e1.w") < F.col("e2.w"))
    )
    paths = dire.alias("e1").join(
        dire.alias("e2"), (F.col("e1.u") == F.col("e2.u")) & lower
    ).select(F.col("e1.w").alias("u"), F.col("e2.w").alias("w"))
    tri = paths.join(
        dire.select("u", "w"), ["u", "w"], "left_semi"
    ).agg(F.count("*").cast("bigint").alias("n_triangles"))
    out = nodes_edges.crossJoin(tri)
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                3.0
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
                * 1e6
            ).cast("bigint"),
        ).alias("transitivity_e6"),
    )


def dup_graph_triangles(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    max_bucket: int = 1000,
    hash_mode: str = "md5",
) -> DataFrame:
    """dup_graph_census over the MinHash-LSH candidate-pair graph —
    clique-vs-chain structure of the near-dup families the dedup
    chain acts on (see dup_graph_census)."""
    return dup_graph_census(
        lsh_candidates(docs, n_perm, bands, text_col, max_bucket, hash_mode)
    )


def bleu_pairs(
    docs: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    max_bucket: int = 1000,
    hash_mode: str = "md5",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """BLEU-2 on every LSH candidate pair — the ORDER-AWARE similarity
    the dedup chain's set metrics cannot see: Jaccard/containment score
    the shingle SETS, so a paragraph-shuffled copy and a verbatim copy
    can read identically, while clipped n-gram precision with the
    brevity penalty (the MT-standard BLEU) degrades with reordering
    and penalizes truncated copies — the dial that separates
    scrambled-template near-dups from true prefix/verbatim copies.

    Scored in the canonical direction: reference = lower doc_id (a),
    candidate = higher (b). Whitespace tokens (the shingle-machinery
    convention; an empty text tokenizes to one '' token in both
    engines). clip_n = Σ over distinct candidate n-grams of
    min(count_cand, count_ref) — exact ints via row-local array ops,
    no gram explode, no join. BLEU₂ = bp·√(p₁·p₂) with p₁ =
    clip₁/len_c, p₂ = clip₂/(len_c−1), bp = exp(min(0, 1−len_r/len_c))
    — one fixed IEEE tree over exact integers (bp is exactly 1.0
    whenever the candidate is no shorter, so libm exp is only reached
    on identical-input doubles), zero overlap reads 0 via √0 with no
    log anywhere, len_c = 1 emits an honest null (p₂ undefined).

    Scale shape: bucket-capped pairs + two hash joins to attach token
    arrays; per-pair cost row-local (O(distinct-grams · len)).

    `pairs` overrides the LSH candidate frame (any (a, b) frame —
    tests and ad-hoc audits score arbitrary pairs with the same
    tree)."""
    if pairs is None:
        pairs = lsh_candidates(
            docs, n_perm, bands, text_col, max_bucket, hash_mode
        )
    side = docs.select(
        "doc_id", words(text_col).alias("_w")
    ).withColumn("_g", grams(F.col("_w"), 2))

    def clip(cand, ref):
        return F.expr(
            f"aggregate(array_distinct({cand}), 0L,"
            f" (acc, w) -> acc + least("
            f"   size(filter({cand}, x -> x = w)),"
            f"   size(filter({ref}, x -> x = w))))"
        )

    j = (
        pairs.join(
            side.select(
                F.col("doc_id").alias("a"),
                F.col("_w").alias("_wa"),
                F.col("_g").alias("_ga"),
            ),
            "a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("b"),
                F.col("_w").alias("_wb"),
                F.col("_g").alias("_gb"),
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.size("_wa").cast("bigint").alias("len_r"),
            F.size("_wb").cast("bigint").alias("len_c"),
            clip("_wb", "_wa").alias("clip1"),
            clip("_gb", "_ga").alias("clip2"),
        )
    )
    lc, lr = F.col("len_c").cast("double"), F.col("len_r").cast("double")
    p1 = F.col("clip1").cast("double") / lc
    p2 = F.col("clip2").cast("double") / (lc - 1.0)
    bp = F.exp(F.least(F.lit(0.0), F.lit(1.0) - lr / lc))
    return j.withColumn(
        "bleu2_e6",
        F.when(
            F.col("len_c") >= 2,
            F.round(bp * F.sqrt(p1 * p2) * 1e6).cast("bigint"),
        ),
    )


def token_window_dups(
    seq: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-sequence duplicate token-window mass per source — the
    token-level ExactSubstr statistic (Lee et al.'s 'Deduplicating
    Training Data' measure) on the pre-tokenized table: the fraction
    of a source's k-token windows that occur verbatim in at least
    one OTHER sequence. seq_dup_ngram counts repetition WITHIN a
    sequence; the LSH chain finds whole-document near-dups; this is
    the third axis — verbatim SPANS shared across documents (shared
    boilerplate headers, license blocks, copy-pasted passages) that
    both of the others structurally miss, and the number that decides
    whether span-level dedup is worth running before training.

    A window is duplicated iff its exact k-token content occurs in
    ≥ 2 DISTINCT documents (within-doc repeats alone do not count —
    that is seq_dup_ngram's job, pinned). Windows are compared by
    their grams.gram_key (exact), PAD included as-is (PAD runs ARE
    boilerplate); sequences shorter than k have no windows. All counts
    exact integers; one final e6 ratio per source.

    Scale shape: windows explode row-locally (n−k+1 per sequence);
    the key-cardinality agg and the key join are the two corpus-scale
    shuffles — the honest price of EXACT span dedup (the reason the
    sketch path exists), both hash-partitioned on the window key with
    map-side combine, never a sort."""
    dtype = seq.schema[tokens_col].dataType.elementType
    w = seq.select(
        id_col,
        source_col,
        F.explode(gram_key(F.col(tokens_col), k, dtype)).alias("_wk"),
    )
    keys = w.groupBy("_wk").agg(
        F.countDistinct(id_col).cast("bigint").alias("_nd")
    )
    j = w.join(keys, "_wk")
    return j.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_windows"),
        F.round(
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
            * 1e6
        )
        .cast("bigint")
        .alias("dup_frac_e6"),
    )
