"""Deduplication operators for large-scale training-data pipelines.

All of these stay **JVM-side** (higher-order array functions — no
Python workers, no Arrow hop) so they codegen and scale linearly:

- exact dedup: md5 groupBy;
- MinHash + LSH: word-shingles → k independent permutation-free
  min-hashes → banded signature buckets → candidate pairs
  (Broder's scheme; band buckets are an equi-join key, the same
  shuffle shape as the spatial cell join);
- SimHash: per-bit token majority (Charikar), fully relational
  (explode → two groupBys);
- exact n-gram Jaccard verification of candidate pairs.

Hash parity: token/shingle hashes are ``int(md5(s)[:8], 16)`` —
reproducible in any engine (DuckDB oracle uses the same expression),
no engine-private hash functions.

Scale notes: the only shuffles are the LSH-bucket groupBy and the
pair self-join, both on uniformly-distributed hash keys (no skew by
construction; a pathological all-identical corpus degrades to one
bucket — cap bucket size with a count filter before pairing, the
standard guard). Exact-Jaccard verification touches only candidate
pairs (output of LSH), never the n² cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MERSENNE31 = 2147483647


def tokens_col():
    """Whitespace tokens of the trimmed lowercase ``text`` column
    (deterministic)."""
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def _hash32(col):
    """First 8 hex digits of md5 → int64 in [0, 2^32) — engine-portable."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def with_shingles(df: DataFrame, k: int = 3) -> DataFrame:
    """Word k-shingles of ``text`` as hashed int64s (distinct per doc)."""
    toks = tokens_col()
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: _hash32(F.concat_ws(" ", F.slice(toks, i + 1, k))),
    )
    return df.withColumn("shingles", F.array_distinct(sh))


def exact_dedup(df: DataFrame, id_col: str, text: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: one representative
    (min id) per group + group size."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups"))
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    scan yields fewer partitions — the md5/shingle stage is CPU-bound,
    and a small-file scan (e.g. one parquet file bin-packed into 2-3
    splits) would otherwise pin the whole hash computation to a couple
    of cores (measured: 61 s vs 4 s at sf0.1 on local[32]). At lake
    scale inputs already have ≥ cores splits, so this is a no-op.

    The partition count is read from the JVM-side RDD directly —
    ``df.rdd`` would additionally build the Python-pickler conversion
    pipeline just to ask for a number."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df._jdf.rdd().getNumPartitions()
    except Exception:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


_ACTIVE_CACHES: dict[str, DataFrame] = {}


def _swap_cache(slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and unpersist whatever frame
    this slot cached on a previous call. The banded frames feed both
    sides of a self-join, so they must be persisted — but Spark's
    CacheManager holds a persisted plan until explicit unpersist, so
    repeated calls in a long-lived session (bench loops, cluster
    pipelines) would otherwise accumulate cached partitions until
    eviction pressure degrades the whole app. Swapping bounds live
    caches to one per operator slot; unpersisting a prior frame a
    caller still lazily references only costs recompute, never
    correctness. ``release_caches()`` drops everything.

    A repeated call over the SAME input plan keeps the existing cache
    (``sameSemantics`` check) — Spark's CacheManager dedupes cached
    plans by semantic equality, so re-running an identical pipeline
    (bench loops, retries) must reuse the materialized frame rather
    than unpersist-and-recompute it (a 5× dedup_minhash regression in
    the r03 bench before this check)."""
    from pyspark import StorageLevel

    prev = _ACTIVE_CACHES.get(slot)
    if prev is not None:
        try:
            if prev.sameSemantics(df):
                return prev
        except Exception:
            pass
        _ACTIVE_CACHES.pop(slot, None)
        try:
            prev.unpersist()
        except Exception:
            pass
    _ACTIVE_CACHES[slot] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _ACTIVE_CACHES[slot]


def release_caches() -> None:
    """Unpersist every frame the dedup operators are still caching —
    call when a session is done with dedup work (callers own cleanup
    timing; results derived from the released frames stay correct and
    simply recompute if re-executed)."""
    while _ACTIVE_CACHES:
        _, df = _ACTIVE_CACHES.popitem()
        try:
            df.unpersist()
        except Exception:
            pass


def minhash_signature(df: DataFrame, n_hashes: int = 16, k: int = 3) -> DataFrame:
    """Append ``sig`` — array of n MinHash values: min over shingles of
    (a_i·h + b_i) mod M31 with fixed odd multipliers (a_i = 2i+3,
    b_i = 5i+1); h < 2^32 keeps products well inside int64."""
    d = with_shingles(_ensure_parallelism(df), k)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("shingles"),
                lambda h: ((F.lit(2) * i + 3) * h + (F.lit(5) * i + 1)) % F.lit(MERSENNE31),
            )
        ),
    )
    return d.withColumn("sig", sig).drop("shingles")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Banded LSH: equal signature slice in any band ⇒ candidate pair.
    Output: (id1, id2, n_equal — matching signature components of
    n_hashes, the MinHash Jaccard estimate numerator). id1 < id2,
    distinct pairs. ``max_bucket`` caps degenerate buckets."""
    r = n_hashes // bands
    banded = sigs.select(
        F.col(id_col).alias("_id"),
        F.col("sig"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws("-", F.transform(F.slice(F.col("sig"), b * r + 1, r), lambda v: v.cast("string"))).alias("bsig"),
                ),
            )
        ).alias("bb"),
    ).select("_id", "sig", "bb.band", "bb.bsig")
    # persist: the signature pipeline (md5 per shingle × k hashes) feeds
    # both self-join sides — without this it recomputes 3×
    banded = _swap_cache("lsh_candidate_pairs", banded)
    # cap pathological buckets before the self-join
    sized = banded.withColumn(
        "_bn", F.count("*").over(Window.partitionBy("band", "bsig"))
    ).filter(F.col("_bn") <= max_bucket)
    a = sized.select(F.col("_id").alias("id1"), F.col("sig").alias("sig1"), "band", "bsig")
    b = sized.select(F.col("_id").alias("id2"), F.col("sig").alias("sig2"), "band", "bsig")
    n_equal = F.size(
        F.filter(
            F.zip_with(F.col("sig1"), F.col("sig2"), lambda x, y: x == y),
            lambda e: e,
        )
    )
    # n_equal is computed BEFORE the pair dedupe so the distinct
    # exchange carries 3 scalars per row, not two 16-long arrays
    # (n_equal is a pure function of the pair — duplicates agree)
    return (
        a.join(b, ["band", "bsig"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", n_equal.cast("long").alias("n_equal"))
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash per doc: bit b set iff Σ_tokens (±1 by bit b of the token
    hash) > 0. Fully relational (explode → groupBy(doc,bit) → groupBy
    doc), identical shape to the SQL oracle."""
    tok = _ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(tokens_col()).alias("_t"),
    ).withColumn("_h", _hash32(F.col("_t")))
    bitrows = tok.select(
        id_col, "_h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("_b")
    )
    votes = bitrows.groupBy(id_col, "_b").agg(
        F.sum(
            F.when(F.expr("shiftright(_h, CAST(_b AS INT)) % 2 = 1"), 1).otherwise(-1)
        ).alias("_v")
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("_v") > 0, F.pow(F.lit(2.0), F.col("_b")).cast("long")).otherwise(0)
        ).alias("simhash")
    )


def exact_jaccard(pairs: DataFrame, shingled: DataFrame, id_col: str) -> DataFrame:
    """Exact shingle Jaccard for candidate pairs: percentage as exact
    integer (100·|∩| div |∪|). Joins shingle sets only for candidates."""
    s1 = shingled.select(F.col(id_col).alias("id1"), F.col("shingles").alias("sh1"))
    s2 = shingled.select(F.col(id_col).alias("id2"), F.col("shingles").alias("sh2"))
    j = pairs.join(s1, "id1").join(s2, "id2")
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("long")
    union = (F.size("sh1") + F.size("sh2")).cast("long") - inter
    return (
        j.withColumn("_i", inter)
        .withColumn("_u", union)
        .withColumn("jaccard_pct", F.expr("(100 * _i) div _u"))  # exact int div
        .drop("sh1", "sh2", "_i", "_u")
    )


def phash_near_dup(
    df: DataFrame,
    max_dist: int = 3,
    n_bands: int = 4,
    id_col: str = "image_id",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Perceptual-hash near-duplicate pairs: (id1 < id2, hamming dist ≤
    ``max_dist``) over a 64-bit ``phash`` column — the image-pipeline
    dedup for the (image_id, …, phash) input schema.

    Multi-index hashing (pigeonhole): split the hash into ``n_bands``
    contiguous bands; any pair within Hamming distance d < n_bands
    must agree **exactly** on ≥1 band, so banding has recall 1 — the
    result is exact, proven by the brute-force SQL oracle. Candidate
    generation is an equi-join on (band_idx, band_val): the same
    shuffle shape as the LSH/cell joins, never the n² cross product.
    All JVM-side (shift/mask/xor/bit_count codegen — no Python).

    ``max_bucket`` guards degenerate corpora (millions of identical
    hashes → quadratic bucket): bands whose bucket exceeds the cap are
    dropped with the same rationale as ``lsh_candidate_pairs``; recall
    stays 1 for any pair that retains one uncapped band.
    """
    assert n_bands > max_dist, "pigeonhole needs n_bands > max_dist"
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    b = df.select(F.col(id_col).alias("_id"), F.col("phash").alias("_p"))
    banded = b.select(
        "_id",
        "_p",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        (
                            F.shiftrightunsigned(F.col("_p"), i * band_bits)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_p", "_band.band_idx", "_band.band_val")
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_val")
        banded = banded.withColumn("_n", F.count("*").over(w)).filter(
            F.col("_n") <= max_bucket
        ).drop("_n")
    # both self-join sides read the banded+capped frame — persist so the
    # scan + banding + cap window run once (same rationale as the LSH
    # candidate pipeline above)
    banded = _swap_cache("phash_near_dup", banded)
    a1 = banded.select(
        F.col("_id").alias("id1"), F.col("_p").alias("p1"), "band_idx", "band_val"
    )
    a2 = banded.select(
        F.col("_id").alias("id2"), F.col("_p").alias("p2"), "band_idx", "band_val"
    )
    pairs = (
        a1.join(a2, ["band_idx", "band_val"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "p1", "p2")
        .dropDuplicates(["id1", "id2"])
    )
    dist = F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
    return (
        pairs.withColumn("dist", dist.cast("int"))
        .filter(F.col("dist") <= max_dist)
        .select("id1", "id2", "dist")
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate CLUSTERS from (id1, id2) candidate pairs: connected components by
    iterative hash-min label propagation. Returns (node:long,
    component:long) with component = min node id in the component.

    At 100 TB this is THE dedup closer — LSH/phash/minhash emit PAIRS,
    but curation needs one representative per duplicate CLUSTER
    (components of the pair graph). Hash-min converges in
    O(log diameter) rounds; near-dup graphs are dense small clusters
    (diameter ≲ 3), so 2-4 rounds in practice. Each round is one
    groupBy(min) over the undirected edge list joined back to labels —
    all shuffles on uniformly-hashed node ids. ``localCheckpoint``
    per round truncates the lineage (the same O(iters²)-recompute
    guard as operators/knn.py); the driver loop stops on the exact
    fixed point (changed == 0), with ``max_iter`` as the certified
    bound for adversarial chains.

    The edge list and every round's labels are ``localCheckpoint``ed
    (eager jobs). Their blocks live only on executors: losing an
    executor fails the job, with no lineage to recompute them from.
    """
    spark = edges.sparkSession
    # undirected: both directions, plus self-loops so isolated label
    # updates keep every node present
    e = edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # candidate label for each node: min over neighbors' labels
        cand = (
            sym.join(labels, sym.dst == labels.node, "inner")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(cand, labels.node == cand.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jumping (label ← label of my label): halves the
        # remaining chain length each round, so convergence is
        # O(log diameter) rounds instead of one hop per round — a
        # 100-doc template chain converges in ~7 rounds, not 100
        # (review r02b)
        ptr = stepped.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        jumped = (
            stepped.join(ptr, stepped.component == ptr._pn, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("_pc"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # silently-wrong clusters are worse than a loud failure: an
        # unconverged component would split into several "clusters",
        # each keeping a bogus representative
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels


def dup_clusters(
    df: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 3,
    min_jaccard: float | None = None,
) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash → banded LSH
    candidate pairs → (optional) exact-Jaccard edge filter → connected
    components → (id, cluster_rep, cluster_size). Docs with no
    near-dup partner are absent (singletons need no curation action)."""
    shingled = with_shingles(df, k=k)
    sigs = minhash_signature(df, n_hashes=n_hashes, k=k)
    pairs = lsh_candidate_pairs(sigs, id_col, n_hashes=n_hashes, bands=n_bands)
    if min_jaccard is not None:
        # exact_jaccard emits integer jaccard_pct (0-100); min_jaccard
        # is the usual 0-1 fraction (review r02b)
        pairs = exact_jaccard(pairs, shingled, id_col).filter(
            F.col("jaccard_pct") >= int(round(min_jaccard * 100))
        )
    comps = connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comps.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_rep"),
            "cluster_size",
        )
    )


def drop_near_dups(df: DataFrame, id_col: str, **kw) -> DataFrame:
    """The curation action over ``dup_clusters`` (``kw`` goes to it):
    keep each cluster's representative and every singleton, drop the
    other members with one left-anti join."""
    losers = (
        dup_clusters(df, id_col, **kw)
        .filter(F.col(id_col) != F.col("cluster_rep"))
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")
