"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's own surface (which only dedupes graph keys --
``ResultsGraphBuilder.java:124-137`` -> dropDuplicates), a 100 TB corpus
pipeline needs content dedup: exact, MinHash+LSH, SimHash, and n-gram
Jaccard. All of these are pure DataFrame compositions -- shuffles are on
bounded keys (fingerprint, shingle, LSH bucket), never all-pairs.

Determinism: every hash is derived from md5 of the content (portable
across engines) and fixed linear-permutation constants, so results are
bit-reproducible and oracle-checkable.

Candidate generation: every pair generator here and in
``lookup.fuzzy_key_pairs`` / ``textanalysis.winnow_overlap_pairs`` is
an inverted-index self-join on a key (shingle, gram, LSH bucket,
deletion variant, fingerprint). ``hot_keys`` is the one stop-key cap
(keys held by more than ``max_posting``/``max_bucket`` postings are
anti-joined out before the pair join), ``shared_key_counts`` the one
shared-key pair count, and ``_shingle_overlaps`` the one exact
shingle intersection under that cap.

Scale notes:
  * exact dedup: one shuffle on the 128-bit fingerprint.
  * MinHash/LSH: cost = O(tokens * num_perm) map-side + shuffles on
    (doc, perm) then (band, bucket); candidate verification only touches
    pairs sharing a bucket. Heavy-hitter buckets (boilerplate text) are
    the skew risk -- ``max_bucket`` drops them (``hot_keys``) before
    the pair join.
  * SimHash: linear map-side work, no pair shuffle until the optional
    hamming join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

# Modulus for the MinHash permutation family: the Mersenne prime 2^31-1.
# g < 2^31 and a < 2^31 keep a*g + b inside int64 (no overflow).
MINHASH_P = 2147483647


def minhash_perms(num_perm: int = 32) -> list[tuple[int, int, int]]:
    """Deterministic (i, a, b) permutation constants, identical in the
    Spark builders and the generated oracle SQL."""
    out = []
    for i in range(num_perm):
        a = (1103515245 * (i + 1) + 12345) % MINHASH_P
        b = (2654435761 * (i + 1) + 1013904223) % MINHASH_P
        if a == 0:
            a = 1
        out.append((i, a, b))
    return out


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapsed
    whitespace, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_fingerprint(col: Column | str) -> Column:
    """128-bit content fingerprint (md5 of normalized text)."""
    return F.md5(normalize_text(col))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: group by fingerprint, keep min-id representative.
    One hash-shuffle on the fingerprint; at 100 TB this is the cheapest
    possible full-corpus dedup (map-side partial agg applies).
    """
    return (
        df.select(F.col(id_col).alias("id"), exact_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
    )


def _rebalance_small_input(df: DataFrame) -> DataFrame:
    """Spread heavy per-row expression work across the executors even
    when the source is a small single parquet file (one task otherwise).
    The repartition shuffles only the raw rows -- cheap relative to the
    per-row fan-out it unlocks. Detection via inputFiles() (driver-side
    logical-plan inspection) instead of df.rdd.getNumPartitions(),
    which forces a full RDD translation per call. Large files split
    into many scan partitions by maxPartitionBytes regardless, so the
    few-small-files case is the only one that needs the rebalance.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files == 0:
        # Non-file-backed input (createDataFrame, cached/derived frame):
        # inputFiles() is empty, so fall back to the actual partition
        # count. The RDD translation is driver-side plan work only and
        # happens once per call, not per row.
        try:
            n_files = df.rdd.getNumPartitions()
        except Exception:
            n_files = 0
    if 0 < n_files < parallelism:
        df = df.repartition(parallelism)
    return df


def shingle_set(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct lowercase word-n-gram shingles per document:
    (id, shingle). Lowercasing folds trivial case variants into the same
    shingle (near-dup semantics).

    The token array is materialized once (a projection barrier) before
    the shingle transform references it n+2 times -- otherwise Catalyst
    re-evaluates the regex split per reference, which dominated profile
    time. element_at instead of slice avoids per-shingle array copies.
    """
    from ..functions.text import tokens

    df = _rebalance_small_input(df)
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    count = F.size("toks")
    idx = F.when(count >= n, F.sequence(F.lit(1), count - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("toks", i + k) for k in range(n)]
    )
    return toked.select(
        "id",
        F.explode(F.array_distinct(F.transform(idx, gram))).alias("shingle"),
    )


def portable_hash48(col: Column) -> Column:
    """48-bit integer derived from md5 -- identical in any engine that
    has md5 + hex parsing (DuckDB: ``('0x'||substr(md5(x),1,12))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def hot_keys(postings: DataFrame, keys: str | list[str], cap: int) -> DataFrame:
    """The stop keys of an inverted index: the ``keys`` values held by
    more than ``cap`` postings. A key in d postings contributes O(d^2)
    rows to a self-join on it while carrying near-zero information, so
    every candidate generator anti-joins these out before its pair join
    (each caller picks its own join strategy and broadcast hint)."""
    return (
        postings.groupBy(keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select(keys)
    )


def shared_key_counts(postings: DataFrame, key: str) -> DataFrame:
    """Self-join of (id, ``key``) postings on the key, counted per pair:
    (id_a, id_b, n) with id_a < id_b and n the number of keys the two
    ids share. The count aggregate map-side combines, so no pair row
    list ever enters a shuffle."""
    a = postings.select(F.col("id").alias("id_a"), key)
    b = postings.select(F.col("id").alias("id_b"), key)
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _shingle_overlaps(
    df: DataFrame, id_col: str, text_col: str, n: int, max_posting: int | None
) -> DataFrame:
    """Exact shingle-set intersections of every pair sharing a candidate
    shingle: (id_a, id_b, inter, sz_a, sz_b), id_a < id_b, with sz the
    per-document shingle-set sizes.

    ``max_posting`` is the scale guard: shingles whose posting list
    exceeds the cap (``hot_keys``) are dropped from CANDIDATE
    generation only, so the cap can only lose pairs whose every shared
    shingle is boilerplate; ``None`` disables it (oracle-equivalence
    mode; the gate corpus stays under the cap either way). Counts stay
    exact because the intersection DECOMPOSES over the hot/cold
    partition of the vocabulary:
      |A n B| = |A n B n cold| + |A n B n hot|
    The cold part is the candidate join itself, aggregated to a count
    (map-side combined, spill-safe) -- no .distinct() pass and no
    full-shingle-set arrays ever enter a shuffle. The hot part is an
    array_intersect over each doc's HOT shingles only, which are few by
    construction (a doc holds at most its boilerplate). The r5 shape
    joined candidates against FULL per-doc shingle arrays, which
    shipped candidate-count x doc-size bytes through two exchanges --
    measured OOM (16 GB heap) at the 30x corpus, where replica-family
    shingles put every family into the candidate set.

    Caching: the shingle relation is persisted for reuse across the
    candidate, hot-set and size joins, and nothing releases it: the
    CacheManager holds a persisted relation until ``unpersist`` is
    called, even after the returned plan is garbage-collected, so each
    call leaves one more cached relation behind.
    """
    sh = shingle_set(df, id_col, text_col, n).persist()
    if max_posting is None:
        inter = shared_key_counts(sh, "shingle").select(
            "id_a", "id_b", F.col("n").alias("inter")
        )
    else:
        hot = hot_keys(sh, "shingle", max_posting)
        cold_n = shared_key_counts(sh.join(hot, "shingle", "left_anti"), "shingle")
        hot_sets = (
            sh.join(hot, "shingle")
            .groupBy("id")
            .agg(F.sort_array(F.collect_set("shingle")).alias("hotset"))
        )
        empty = F.array().cast("array<string>")
        hot_n = F.size(
            F.array_intersect(
                F.coalesce(F.col("hot_a"), empty), F.coalesce(F.col("hot_b"), empty)
            )
        ).cast("long")
        inter = (
            cold_n.join(hot_sets.toDF("id_a", "hot_a"), "id_a", "left")
            .join(hot_sets.toDF("id_b", "hot_b"), "id_b", "left")
            .select("id_a", "id_b", (F.col("n") + hot_n).alias("inter"))
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return inter.join(sizes.toDF("id_a", "sz_a"), "id_a").join(
        sizes.toDF("id_b", "sz_b"), "id_b"
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at
    least one shingle. The pair space is generated by the shingle
    self-join (inverted-index style), NOT a cross join; ``max_posting``
    caps stop shingles out of candidate generation only
    (``_shingle_overlaps``), so reported jaccard values are exact.

    Returns (id_a, id_b, inter, union_sz, jaccard), id_a < id_b.
    """
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_posting)
        .withColumn("union_sz", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "union_sz", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Asymmetric shingle containment c(A->B) = |A n B| / |A|: the
    fraction of A's n-gram shingles that also appear in B. Catches
    SUBSET duplicates -- a short document embedded verbatim in a longer
    one scores containment ~1 while its symmetric Jaccard can sit far
    below any dedup threshold (|A n B| / |A u B| shrinks with the size
    gap), so Jaccard-only pipelines systematically keep quote-plus-
    commentary copies. Standard web-curation companion to Jaccard
    (the same inverted-index candidate generation serves both).

    Pairs are emitted once with id_a < id_b and BOTH directions'
    values; ``containment`` is the max of the two, filtered at
    ``threshold``. ``max_posting`` is the identical scale guard as
    ``jaccard_pairs``: hot shingles are excluded from CANDIDATE
    generation only, counts stay exact.

    Returns (id_a, id_b, inter, c_ab, c_ba, containment).
    """
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_posting)
        .withColumn("c_ab", F.col("inter") / F.col("sz_a"))
        .withColumn("c_ba", F.col("inter") / F.col("sz_b"))
        .withColumn("containment", F.greatest("c_ab", "c_ba"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "c_ab", "c_ba", "containment")
    )


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures in WIDE form: (id, sig array<long>[num_perm]).

    h_i = min over shingles of (a_i * (g mod P) + b_i) mod P with g the
    portable 48-bit md5 shingle hash.

    Computed map-side with ZERO shuffles: min over the shingle
    *multiset* equals min over the shingle *set*, so neither the shingle
    explode+distinct nor the groupBy(id) aggregation is needed. The
    per-document shingle-hash array is built by one JVM projection
    (md5-derived portable hashes), then an Arrow-batched pandas UDF
    folds it to the signature as a single numpy (num_perm x n_shingles)
    modular matrix op -- vectorized, no per-row Python. At 100 TB this
    removes both corpus-sized shuffles (shingle dedup + signature agg)
    that the aggregate formulation pays; signatures stream straight out
    of the scan, embarrassingly parallel. (Earlier shapes, both slower:
    posexplode + 32 parallel min-aggregates -- one shuffle of |shingles|
    rows, 0.69 s at sf0.1; all-Catalyst higher-order array_min passes --
    interpreted HOF evaluation, 0.76 s. The hybrid measures 0.21 s and
    keeps the heavy integer math vectorized.)

    Documents with fewer than ``shingle_n`` tokens have no shingles and
    are excluded, matching the explode-based formulation.
    """
    from ..functions.text import tokens

    perms = minhash_perms(num_perm)
    a_vec = np.array([a for _i, a, _b in perms], dtype=np.int64)
    b_vec = np.array([b for _i, _a, b in perms], dtype=np.int64)

    # a < 2^31 and g < P < 2^31 keep a*g + b inside int64 -- the numpy
    # path has the same no-overflow guarantee as the JVM expression.
    @F.pandas_udf(ArrayType(LongType()))
    def _sig(gs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                (
                    (a_vec[:, None] * np.asarray(g, dtype=np.int64)[None, :]
                     + b_vec[:, None])
                    % MINHASH_P
                ).min(axis=1)
                for g in gs
            ]
        )

    toked = _rebalance_small_input(df).select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    count = F.size("toks")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("toks", i + k) for k in range(shingle_n)]
    )
    hashes = F.transform(
        F.sequence(F.lit(1), count - (shingle_n - 1)),
        lambda i: portable_hash48(gram(i)) % MINHASH_P,
    )
    return (
        toked.filter(count >= shingle_n)
        .select("id", hashes.alias("_g"))
        .select("id", _sig("_g").alias("sig"))
    )


def band_structs_sql(num_perm: int = 32, bands: int = 8) -> str:
    """The banding expression as SQL text: ``bands`` struct(band,
    bucket) terms, each bucket the md5 of the band's ordered minhash
    slice of a wide ``sig`` array column. Shared by the column form
    (``lsh_band_buckets``: one ``F.expr`` over it) and the SQL-text
    plan builders (plans/llmdata q_dedup_minhash_lsh), so the two can
    never drift."""
    rows = num_perm // bands
    return ", ".join(
        "struct({b} AS band, md5(concat_ws('-', {els})) AS bucket)".format(
            b=b,
            els=", ".join(
                f"CAST(element_at(sig, {b * rows + r + 1}) AS STRING)"
                for r in range(rows)
            ),
        )
        for b in range(bands)
    )


def lsh_band_buckets(
    sigs_wide: DataFrame, num_perm: int = 32, bands: int = 8, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Banding over wide signatures: (id, band, bucket) with bucket the
    md5 of the band's ordered minhash values. Pure projection + explode
    (no shuffle): each band's bucket is a slice of the sig array.
    ``carry`` names extra columns to keep alongside (e.g. the signature
    itself), so callers never need a post-banding re-join.

    The band array is built as ONE ``F.expr`` SQL string: the
    column-object form was ~250 py4j round trips (bands x rows element
    slices), ~0.25 s of every PLAN BUILD -- a third of the whole
    rebuild-regime driver cost of the gated minhash query (VERDICT r7
    #5). A single parse produces the identical expression tree."""
    band_bucket = F.expr(f"array({band_structs_sql(num_perm, bands)})")
    return sigs_wide.select(
        "id", *carry, F.explode(band_bucket).alias("bb")
    ).select("id", *carry, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup candidates with estimated
    similarity (fraction of equal minhashes). Returns
    (id_a, id_b, est_jaccard), id_a < id_b.

    ``max_bucket`` drops degenerate buckets (skew guard at scale).
    """
    sigs = minhash_signatures_wide(df, id_col, text_col, num_perm, shingle_n).persist()
    buckets = lsh_band_buckets(sigs, num_perm, bands)
    if max_bucket is not None:
        # Count-based prefilter BEFORE any per-bucket array is built: a
        # degenerate bucket (boilerplate text shared by millions of
        # docs) must be dropped from fixed-size count states, never
        # accumulated into a collect_set. The filter side is tiny
        # (only over-cap buckets) and broadcasts into an anti-join.
        big = hot_keys(buckets, ["band", "bucket"], max_bucket)
        buckets = buckets.join(F.broadcast(big), ["band", "bucket"], "left_anti")
        # Pair generation INSIDE the bucket array: one shuffle groups
        # each surviving bucket's ids (bounded by max_bucket), and the
        # ordered pairs are emitted by an in-array double transform --
        # no bucket self-join, no id_a < id_b post-filter (array_sort
        # guarantees order). Replaces two join shuffles with one
        # aggregation shuffle. Safe ONLY under the cap: the aggregation
        # state is <= max_bucket ids per bucket.
        grouped = (
            buckets.groupBy("band", "bucket")
            .agg(F.array_sort(F.collect_set("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        pair_arr = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size("ids") - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, F.size("ids")),
                    lambda j: F.struct(
                        F.element_at("ids", i).alias("id_a"),
                        F.element_at("ids", j).alias("id_b"),
                    ),
                ),
            )
        )
        cand = (
            grouped.select(F.explode(pair_arr).alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct()
        )
    else:
        # Uncapped: KEEP the streaming bucket self-join. Without a cap
        # a degenerate bucket would concentrate its whole id set (and
        # all C(n,2) pair structs) into ONE aggregation state -- the
        # join shape streams pairs through the shuffle instead, so a
        # hot bucket costs time, never one task's memory.
        a = buckets.select("band", "bucket", F.col("id").alias("id_a"))
        b = buckets.select("band", "bucket", F.col("id").alias("id_b"))
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    # Estimated similarity: one join per side, then an elementwise
    # array compare -- no per-permutation row join.
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", (matches / F.lit(float(num_perm))).alias("est_jaccard")
        )
    )


def minhash_cross_match(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-corpus NEAR-dup decontamination: (id, bench_id,
    est_jaccard) for every corpus document that LSH-collides with a
    benchmark document. The exact-n-gram overlap probe (decontaminate)
    misses paraphrased or partially-edited benchmark leaks; this is the
    MinHash analogue that catches them.

    Scale shape -- built for an asymmetric pair (100 TB corpus, MB-GB
    benchmark): the benchmark's band buckets AND signatures are one
    broadcast map; the corpus side computes signatures map-side
    (minhash_signatures_wide: zero shuffles), probes the broadcast per
    band, and scores the estimated Jaccard in the same projection --
    so the ONLY corpus-sized shuffle is the final (id, bench_id)
    dedup across bands, over collision rows alone. A hot boilerplate
    bucket inflates collision rows (time), never one task's memory:
    the dedup is a count-free first-value aggregation.
    """
    c_sigs = minhash_signatures_wide(corpus, id_col, text_col, num_perm, shingle_n)
    b_sigs = minhash_signatures_wide(bench, id_col, text_col, num_perm, shingle_n)
    # Signatures ride along through the banding projection (carry=),
    # so neither side pays a bucket->signature re-join shuffle.
    b_payload = lsh_band_buckets(b_sigs, num_perm, bands, carry=("sig",)).select(
        F.col("id").alias("bench_id"),
        "band",
        "bucket",
        F.col("sig").alias("bench_sig"),
    )
    c_buckets = lsh_band_buckets(c_sigs, num_perm, bands, carry=("sig",))
    matches = F.aggregate(
        F.zip_with(
            F.col("sig"),
            F.col("bench_sig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    collided = c_buckets.join(F.broadcast(b_payload), ["band", "bucket"]).select(
        "id", "bench_id", (matches / F.lit(float(num_perm))).alias("est_jaccard")
    )
    # est_jaccard is identical for every band a pair collides in, so
    # max() is a pure dedup (deterministic, bounded agg state).
    return collided.groupBy("id", "bench_id").agg(
        F.max("est_jaccard").alias("est_jaccard")
    )


def minhash_bucket_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The persisted LSH INDEX of a corpus: (id, band, bucket, sig) --
    band buckets with the wide signature riding along. This is what a
    deployment materializes at ingest/compaction time so later delta
    batches can dedup against the corpus WITHOUT re-pairing it
    (incremental_minhash_probe); at 100 TB the index is ~num_perm longs
    + bands hashes per document, bucketed on (bucket) so probe joins
    co-locate."""
    sigs = minhash_signatures_wide(df, id_col, text_col, num_perm, shingle_n)
    return lsh_band_buckets(sigs, num_perm, bands, carry=("sig",))


def upsert_minhash_index(
    base_index: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The index-maintenance half of the incremental dedup cycle: the
    landing delta's own (id, band, bucket, sig) rows unioned into the
    base index, so the NEXT delta's probe sees this one's documents.
    In the lake posture this is a bucketed APPEND to the persisted
    index table (partition-aligned on the bucket key: only the delta's
    rows are written -- measured as the write posture in BENCH_NOTES
    r8); the returned frame is the logical view of that table after
    the append, which the two-batch composition test pins against a
    from-scratch pairing (tests/test_llm_ops.py)."""
    return base_index.unionByName(
        minhash_bucket_index(delta, id_col, text_col, num_perm, bands, shingle_n)
    )


def incremental_minhash_pairs(
    base_index: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_est: float = 0.25,
    delta_index: DataFrame | None = None,
) -> DataFrame:
    """All qualifying (delta_id, base_id, est_jaccard) collision pairs
    of a delta batch against the persisted base index -- the pair-level
    incremental probe (``incremental_minhash_probe`` adds the W1 top-1
    per delta doc on top). This is the frame the two-batch e2e
    composition is stated over: probe(delta1, idx0) UNION
    probe(delta2, upsert(idx0, delta1)) equals the from-scratch pair
    set restricted to (later-batch doc, earlier-batch doc) -- LSH
    collisions depend only on per-document band buckets, so batch
    composition is exact, not approximate.

    ``delta_index``: the delta's own ``minhash_bucket_index`` rows
    (same num_perm/bands/shingle_n), when the caller already has them
    -- a probe-then-upsert cycle computes that frame ANYWAY for the
    index append, so passing it here makes the delta's signature
    pipeline run once per landing instead of twice (r12; the probe
    subtree built inline below is the same lsh_band_buckets(
    minhash_signatures_wide(...)) composition by construction).
    """
    if delta_index is not None:
        d_buckets = delta_index.select(
            F.col("id").alias("delta_id"),
            "band",
            "bucket",
            F.col("sig").alias("delta_sig"),
        )
    else:
        d_sigs = minhash_signatures_wide(
            delta, id_col, text_col, num_perm, shingle_n
        )
        d_buckets = lsh_band_buckets(d_sigs, num_perm, bands, carry=("sig",)).select(
            F.col("id").alias("delta_id"),
            "band",
            "bucket",
            F.col("sig").alias("delta_sig"),
        )
    b = base_index.select(
        F.col("id").alias("base_id"),
        "band",
        "bucket",
        F.col("sig").alias("base_sig"),
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("delta_sig"),
            F.col("base_sig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    collided = d_buckets.join(b, ["band", "bucket"]).select(
        "delta_id",
        "base_id",
        (matches / F.lit(float(num_perm))).alias("est_jaccard"),
    )
    # est_jaccard is band-invariant per pair: max() is a pure dedup.
    return (
        collided.groupBy("delta_id", "base_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est)
    )


def incremental_minhash_probe(
    base_index: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_est: float = 0.25,
) -> DataFrame:
    """Incremental near-dup dedup: probe a DELTA batch against the
    persisted ``minhash_bucket_index`` of the base corpus and return,
    per delta document with a qualifying match, its best base match:
    (delta_id, base_id, est_jaccard), est >= ``min_est``, top-1 by
    (est desc, base_id).

    This is THE dedup posture at lake scale: when a day's delta lands,
    the base corpus is NOT re-paired -- delta signatures are computed
    map-side (zero shuffle), the probe joins the delta's band buckets
    against the index on (band, bucket), and only collision rows flow
    into the per-pair estimate + W1 top-1 window. Work scales with
    |delta| + |collisions|, never |base|; the index scan prunes to the
    probed buckets under a co-located layout (the materialized table
    is bucketed on the join key). The same probe then serves
    within-delta dedup by unioning the delta's own index rows into the
    base side -- omitted here to keep the gated shape one-directional.
    """
    pairs = incremental_minhash_pairs(
        base_index, delta, id_col, text_col, num_perm, bands, shingle_n, min_est
    )
    w = Window.partitionBy("delta_id").orderBy(
        F.desc("est_jaccard"), "base_id"
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("delta_id", "base_id", "est_jaccard")
    )


def doc_stitch_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Shard-boundary continuation detection: (id_a, id_b, gram) pairs
    where the LAST ``n`` tokens of document a equal the FIRST ``n``
    tokens of document b -- the signature of one source document split
    across extraction shards (web crawls, OCR page breaks). Re-stitch
    candidates feed a join-or-merge curation step.

    Scale shape: one head-gram and one tail-gram per document (pure
    projection), then a single hash equi-join on the gram -- work
    scales with documents, not token volume. ``max_posting`` drops
    boilerplate grams appearing as head or tail of more than that many
    documents (broadcast anti-join, the jaccard_pairs skew guard):
    a template opening shared by millions of docs must not quadratic
    the join.
    """
    from ..functions.text import tokens

    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    ).filter(F.size("toks") >= n)
    heads = toked.select(
        F.col("id").alias("id_b"),
        F.concat_ws(" ", F.slice("toks", 1, n)).alias("gram"),
    )
    tails = toked.select(
        F.col("id").alias("id_a"),
        F.concat_ws(" ", F.slice(F.col("toks"), F.size("toks") - (n - 1), n)).alias(
            "gram"
        ),
    )
    if max_posting is not None:
        big = hot_keys(
            heads.select("gram").union(tails.select("gram")), "gram", max_posting
        )
        heads = heads.join(F.broadcast(big), "gram", "left_anti")
        tails = tails.join(F.broadcast(big), "gram", "left_anti")
    return (
        tails.join(heads, "gram")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "gram")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash over distinct tokens: bit j of the 32-bit md5-derived
    token hash votes +1/-1; the sign of the vote sum sets bit j of the
    fingerprint. Returns (id, simhash). Linear map-side work + one
    (id, j) shuffle; no pair explosion.
    """
    from ..functions.text import tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("tok"),
    )
    g = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    # All `bits` vote-sums in one aggregation pass (single shuffle of
    # token rows; no per-bit row explosion). r12: the ±1 vote sum is
    # computed branch-free as 2*sum(bit_j) - n (exactly equal: each
    # set bit votes +1, each clear bit -1, so s_j = ones_j -
    # (n - ones_j)) -- the per-row WHEN/OTHERWISE branch per bit was
    # the aggregation's hot path (measured ~2x on the vote stage,
    # OPTIMIZATION_r12.md), and the whole fingerprint pack is one
    # SQL-text parse (the _sq_dist_sql construction doctrine).
    aggs = [
        F.expr(f"sum(shiftright(g, {j}) & 1)").alias(f"b{j}")
        for j in range(bits)
    ]
    votes = (
        toks.select("id", g.alias("g"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
    )
    pack = " + ".join(
        f"IF(2 * b{j} - n > 0, {1 << j}L, 0L)" for j in range(bits)
    )
    return votes.select(
        "id", F.expr(f"CAST({pack} AS BIGINT)").alias("simhash")
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    node starts labeled with its own id; each round, a node adopts the
    minimum label among itself and its neighbors; fixpoint = components
    labeled by their minimum member id.

    This is the dedup-pipeline endpoint: near-dup PAIRS (from MinHash/
    SimHash/Jaccard) become dedup GROUPS, keep-one-per-component.

    nodes(id), edges(id_a, id_b) undirected. Converges in O(component
    diameter) rounds -- near-dup clusters are shallow, so few. Each
    round is one join + one agg; frontiers are localCheckpointed to cut
    lineage. At huge scale, switch to the large-star/small-star
    alternation (same primitive ops, better worst-case rounds).
    """
    bidir = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # Cache layout = join layout (as in the khop/hierarchy caches):
        # every round joins labels.id == bidir.src, so a src-partitioned
        # cache satisfies the join distribution and only the (shrinking)
        # label frontier shuffles per round.
        .repartition(F.col("src"))
        .persist()
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("label"))
    # Fixpoint detection: count rows whose label strictly decreased this
    # round (carried alongside the new label through the checkpoint, so
    # the count action reuses the checkpointed data -- no recompute).
    # This works for ANY orderable id type: a label SUM would be NULL
    # for string ids (silently exiting after one round) and can
    # overflow int64 for large hash ids x billions of rows.
    for _ in range(max_iter):
        neighbor_min = (
            labels.join(bidir, labels.id == bidir.src)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("dst", "id")
        )
        step = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.col("label").alias("_prev"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
        ).localCheckpoint(eager=True)
        n_changed = step.filter(F.col("label") != F.col("_prev")).count()
        labels = step.select("id", "label")
        if n_changed == 0:
            break
    bidir.unpersist()
    return labels.withColumnRenamed("label", "component")


def simhash_bands(
    hashes: DataFrame, bands: int, bits: int = 32, hash_col: str = "simhash"
) -> DataFrame:
    """Disjoint bit-band blocking keys for a simhash column:
    (id, <hash_col>, band, val). The ``bits`` are split into ``bands``
    contiguous runs (widths differ by at most 1); ``val`` is the band's
    bit slice. Pure projection + explode -- no shuffle.
    """
    base, rem = divmod(bits, bands)
    entries, start = [], 0
    for i in range(bands):
        width = base + (1 if i < rem else 0)
        mask = (1 << width) - 1
        entries.append(
            F.struct(
                F.lit(i).alias("band"),
                (
                    F.shiftright(F.col(hash_col), start).bitwiseAND(F.lit(mask))
                ).alias("val"),
            )
        )
        start += width
    return hashes.select(
        "id", hash_col, F.explode(F.array(*entries)).alias("bb")
    ).select("id", hash_col, "bb.band", "bb.val")


def first_band_collision(
    bands: int, bits: int, band_col, xor_col
) -> "F.Column":
    """Predicate: this row's ``band_col`` is the FIRST band on which the
    two hashes (whose XOR is ``xor_col``) agree. A candidate pair that
    collides on several bands is emitted by the band join once per
    colliding band; keeping only the first-collision row dedups the
    candidate set MAP-SIDE -- replacing the ``distinct()`` that
    otherwise shuffles every candidate pair (17.6M rows / most of 18 s
    in q_pair_index_upsert's 30x steady before this, r9). Band j
    collides iff the XOR's band-j bit slice is zero, a pure projection
    of data already in the row, so the filter adds no shuffle and no
    join. Exactness: emitted rows partition the candidate pair set by
    first colliding band, so each qualifying pair survives exactly
    once -- the same set distinct() produced.
    """
    base, rem = divmod(bits, bands)
    slices, start = [], 0
    for i in range(bands):
        width = base + (1 if i < rem else 0)
        mask = (1 << width) - 1
        slices.append(
            F.shiftright(xor_col, start).bitwiseAND(F.lit(mask)) != 0
        )
        start += width
    # band k is first iff every slice j < k is nonzero (no earlier band
    # collided): conds[k] = AND of slices[0..k-1], True for k=0.
    conds, acc = [], None
    for k in range(bands):
        conds.append(acc if acc is not None else F.lit(True))
        acc = slices[k] if acc is None else (acc & slices[k])
    expr = F.lit(False)
    for k in reversed(range(bands)):
        expr = F.when(band_col == k, conds[k]).otherwise(expr)
    return expr


def simhash_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    bits: int = 32,
    block: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance: (id_a, id_b, hamming),
    id_a < id_b, hamming <= max_hamming.

    Scale path (``block=True``, default): bit-band blocking. The hash's
    ``bits`` are split into ``max_hamming + 1`` disjoint bands; two
    hashes within hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` bands, so by pigeonhole they agree EXACTLY on at
    least one band -- joining on (band, val) has full recall, and the
    hamming check inside each block is exact. The candidate shuffle is
    on (band, val) keys, never all-pairs.

    Blocking selectivity is ``2^(bits/(max_hamming+1))`` values per
    band: at bits=32, max_hamming=6 that is only ~2^4..2^5 buckets per
    band, so for 1e9-doc corpora raise ``bits`` (simhash supports up to
    48) and/or pass ``max_bucket`` to drop degenerate blocks, trading
    recall on pathological (boilerplate) values only.

    ``block=False`` keeps the O(n^2) theta join -- acceptable below
    ~1e5 rows, never at corpus scale.

    Precondition: ``hashes`` has UNIQUE ids (one row per document --
    what ``simhash`` emits). The ``max_bucket=None`` fast path dedups
    candidate pairs purely by first-colliding-band (ADVICE r9): a
    duplicate id ROW in the input would yield duplicate output pair
    rows, where the ``max_bucket`` path's ``distinct()`` used to mask
    it. The canonical-contract note on ``first_band_collision`` covers
    bands; this covers input ids.
    """
    a = hashes.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = hashes.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    if not block:
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn(
                "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    bb = simhash_bands(hashes, bands=max_hamming + 1, bits=bits)
    if max_bucket is not None:
        big = hot_keys(bb, ["band", "val"], max_bucket)
        bb = bb.join(big, ["band", "val"], "left_anti")
    ba = bb.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "val"
    )
    bbj = bb.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "val"
    )
    cand = ba.join(bbj, ["band", "val"]).filter(F.col("id_a") < F.col("id_b"))
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    if max_bucket is None:
        # a pair can agree on several bands: keep only its FIRST
        # colliding band -- a map-side projection filter, replacing a
        # full candidate-set distinct() shuffle (first_band_collision).
        cand = cand.filter(
            first_band_collision(max_hamming + 1, bits, F.col("band"), xor)
        ).select("id_a", "id_b", "sh_a", "sh_b")
    else:
        # with degenerate buckets dropped per (band, val), a pair's
        # earlier colliding band may have been removed, so "first
        # collision" is not statically decidable: dedup by shuffle.
        cand = cand.select("id_a", "id_b", "sh_a", "sh_b").distinct()
    return (
        cand.withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    lowercase word-``n``-gram with an evaluation/benchmark corpus (the
    standard eval-leakage check a training pipeline runs before mixing a
    new source in; 8-13-gram overlap is the published convention).

    Returns one row per contaminated document:
    ``(id, n_grams, n_hits, contamination_bp)`` where ``n_hits`` counts
    the document's distinct n-grams that also occur anywhere in the
    benchmark set and ``contamination_bp`` is the hit fraction in basis
    points (quantized integer -- deterministic across engines).

    Scale shape: the benchmark side is tiny relative to the corpus (eval
    suites are MBs against TBs), so its distinct-gram set is broadcast
    and the corpus-side probe is a broadcast hash join -- the corpus
    shingles are never shuffled; the only corpus shuffle is the per-doc
    count aggregation, which map-side-combines to one row per doc. If a
    pathological benchmark exceeds the broadcast threshold, drop the
    hint (Spark falls back to a shuffled hash join) or pre-hash grams to
    48-bit ints to shrink the build side ~10x at a vanishing
    false-positive rate.
    """
    bid = bench_id_col or id_col
    btxt = bench_text_col or text_col
    train = shingle_set(docs, id_col, text_col, n=n)
    bench = shingle_set(benchmark, bid, btxt, n=n).select("shingle").distinct()
    # One pass over the corpus shingles (r12 optimization): the former
    # sizes/hits split planned the shingle projection TWICE (Catalyst
    # does not dedup the shared subtree) and re-joined the two
    # aggregates. A LEFT broadcast probe marks hits in-stream, so one
    # aggregation yields both counts -- same rows (the n_hits > 0
    # filter reproduces the inner join's contaminated-only contract,
    # and the distinct bench side means the left join never duplicates
    # a shingle row), half the shingling, one join + one agg fewer.
    per_doc = (
        train.join(
            F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )
    return per_doc.select(
        "id",
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits") * 10000.0 / F.col("n_grams"))
        .cast("long")
        .alias("contamination_bp"),
    )


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Substring-level exact-duplicate spans: maximal token ranges whose
    every ``k``-token window occurs at least twice in the corpus --
    the distributed approximation of suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22: remove repeated spans, not just whole near-dup
    documents). A suffix array does not distribute; matching fixed-k
    token windows by hash is the standard shuffle-friendly equivalent
    and finds exactly the duplicated substrings of length >= k tokens.

    Returns (doc_id, span_start, span_end, n_grams): 1-based inclusive
    token indexes of each maximal duplicated span and the number of
    duplicated k-windows it merges. Windows are duplicated if their
    lowercase token k-gram occurs >= 2 times corpus-wide (within- or
    cross-document -- a decoding loop that repeats its own phrase is as
    much a training hazard as shared boilerplate). Overlapping or
    adjacent windows (gap <= k positions) merge into one span.

    Scale shape: one map-side projection builds each doc's window-hash
    array (no explode of text bytes -- hashes only); the occurrence
    count shuffles on the 128-bit gram hash (bounded key, map-side
    combine); the hit join shuffles on the same hash; the island merge
    windows per (doc, pos) -- never any all-pairs work. Heavy-hitter
    grams cost one hot reduce key for a count, not a pair explosion.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    from ..functions.text import tokens

    toked = _rebalance_small_input(df).select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    count = F.size("toks")
    gram = F.concat_ws(
        " ", *[F.element_at("toks", F.col("_i") + j) for j in range(k)]
    )
    grams = (
        toked.filter(count >= k)
        .select(
            "id",
            "toks",
            F.explode(F.sequence(F.lit(1), count - (k - 1))).alias("_i"),
        )
        .select("id", F.col("_i").cast("long").alias("pos"), F.md5(gram).alias("h"))
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    hits = grams.join(dup, "h").select("id", "pos")
    return merge_position_islands(hits, k)


def merge_position_islands(hits: DataFrame, k: int) -> DataFrame:
    """Merge flagged k-token window positions (id, pos) into maximal
    spans: windows whose starts are within ``k`` positions overlap or
    touch, so they fuse into one (gaps-and-islands by windowed lag +
    running sum). Returns (id, span_start, span_end, n_grams) with
    1-based inclusive token indexes. Shared by duplicate_spans and
    contaminated_spans -- any positional flagging source merges the
    same way."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    new_island = F.when(
        F.col("pos") - F.lag("pos").over(w) > k, 1
    ).otherwise(0)
    island = F.sum(
        F.when(F.lag("pos").over(w).isNull(), 1).otherwise(new_island)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        hits.withColumn("_island", island)
        .groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("id", "span_start", "span_end", "n_grams")
    )


def contaminated_spans(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Span-level decontamination: the maximal token ranges of each
    TRAINING document whose every ``k``-token window also occurs in the
    BENCHMARK corpus -- i.e. WHERE the contamination sits, not just how
    much (``decontaminate`` reports per-doc counts; the production
    action is masking or cutting the overlapping span, which needs
    positions). Returns (id, span_start, span_end, n_grams) per
    contaminated training doc.

    Scale shape: the benchmark's distinct window hashes are tiny next
    to the corpus (eval suites are MBs against TBs) and broadcast into
    the hit join; the corpus side contributes one map-side window-hash
    projection and is never shuffled until the per-doc island merge of
    the (rare) hits.
    """
    from ..functions.text import tokens

    bid = bench_id_col or id_col
    btxt = bench_text_col or text_col

    def window_hashes(df: DataFrame, idc: str, txtc: str) -> DataFrame:
        toked = _rebalance_small_input(df).select(
            F.col(idc).alias("id"), tokens(F.lower(F.col(txtc))).alias("toks")
        )
        count = F.size("toks")
        gram = F.concat_ws(
            " ", *[F.element_at("toks", F.col("_i") + j) for j in range(k)]
        )
        return (
            toked.filter(count >= k)
            .select(
                "id",
                "toks",
                F.explode(F.sequence(F.lit(1), count - (k - 1))).alias("_i"),
            )
            .select(
                "id", F.col("_i").cast("long").alias("pos"), F.md5(gram).alias("h")
            )
        )

    bench_h = window_hashes(bench, bid, btxt).select("h").distinct()
    hits = (
        window_hashes(train, id_col, text_col)
        .join(F.broadcast(bench_h), "h")
        .select("id", "pos")
    )
    return merge_position_islands(hits, k)


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: how much of a document is text that
    appears nowhere else in the corpus. For every position window of
    ``n`` lowercase tokens, the window is DUPLICATED if its gram occurs
    >= 2 times corpus-wide (any document, including this one). Returns
    (id, n_grams, n_dup, novelty_permille) with
    novelty_permille = floor((n_grams - n_dup) * 1000 / n_grams) --
    integer permille so the value is bit-identical across engines.

    Complements ``duplicate_spans`` (which localizes the duplicated
    ranges) and the whole-document near-dup family: novelty is the
    scalar curation signal ("this doc is 90% boilerplate") used for
    quality weighting and mixture reweighting of crawled corpora.

    Scale shape: identical to duplicate_spans -- map-side window-hash
    projection, one count shuffle on the 128-bit gram hash (map-side
    combine), one hash join back, one per-doc aggregation. No pair
    work, no text bytes shuffled.
    """
    from ..functions.text import tokens

    toked = _rebalance_small_input(df).select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    count = F.size("toks")
    gram = F.concat_ws(
        " ", *[F.element_at("toks", F.col("_i") + j) for j in range(n)]
    )
    grams = (
        toked.filter(count >= n)
        .select(
            "id",
            "toks",
            F.explode(F.sequence(F.lit(1), count - (n - 1))).alias("_i"),
        )
        .select("id", F.md5(gram).alias("h"))
    )
    cnt = grams.groupBy("h").agg(F.count(F.lit(1)).alias("_n"))
    per_doc = (
        grams.join(cnt, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_n") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return per_doc.select(
        "id",
        "n_grams",
        "n_dup",
        F.floor(
            (F.col("n_grams") - F.col("n_dup")) * F.lit(1000) / F.col("n_grams")
        ).alias("novelty_permille"),
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (Chaudhuri et
    al. ICDE'06; Bayardo et al. WWW'07): provably finds every pair with
    Jaccard >= threshold while joining only on each document's prefix
    -- its |S| - ceil(t*|S|) + 1 rarest shingles under a global
    (frequency, shingle) order. Pigeonhole: a qualifying pair's
    intersection is at least ceil(t*|S|) elements, too large to hide
    entirely in either suffix, so the prefixes must share a shingle.

    Unlike ``jaccard_pairs``' ``max_posting`` cap (which can lose pairs
    whose every shared shingle is boilerplate), prefix filtering is
    LOSSLESS at its threshold: frequent shingles fall late in the
    global order and drop out of prefixes naturally, shrinking the
    candidate join by exactly the amount the threshold justifies. The
    cost model flips with t: high thresholds (near-dup mining) make
    prefixes -- and the candidate space -- tiny; t -> 0 degenerates to
    the full inverted index, where the posting cap is the right tool.

    Candidates are verified exactly against full shingle sets
    (array_intersect), so reported similarities are exact. Returns
    (id_a, id_b, inter, union_sz, jaccard), id_a < id_b.

    Scale shape: one freq aggregation on the shingle (bounded key), a
    per-doc sort of its own shingles (map-side after one groupBy), the
    candidate join on prefix shingles only, and the broadcast-friendly
    verify. No global rank: the (freq, shingle) pair IS the order key,
    so nothing corpus-wide ever sorts.
    """
    if not 0 < threshold <= 1:
        # threshold -> 0 makes every prefix the whole set (the filter
        # buys nothing and the caller wanted jaccard_pairs instead)
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # The whole pipeline runs over 48-bit portable shingle HASHES, not
    # strings: the verify ships each candidate's shingle array through
    # two exchanges, and at the 30x corpus the ~30-byte string arrays
    # spilled the local disk dry (replica families put every sibling
    # pair into the candidate set); 8-byte longs cut that traffic ~4x
    # and make every sort/compare cheaper. Exactness is preserved the
    # same way the MinHash family's is: both engines hash with the
    # identical md5-derived function and dedup (id, hash), so even a
    # collision (P ~ 1e-10 per pair) yields the SAME counts everywhere.
    sh = (
        shingle_set(df, id_col, text_col, n)
        .select("id", portable_hash48(F.col("shingle")).alias("shingle"))
        .dropDuplicates()
        .persist()
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    ordered = (
        sh.join(freq, "shingle")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("freq", "shingle"))).alias("ord"))
    )
    sz = F.size("ord")
    p = (sz - F.ceil(sz * F.lit(threshold)) + 1).cast("int")
    prefix = ordered.select(
        "id",
        sz.alias("sz"),
        F.explode(
            F.transform(F.slice("ord", F.lit(1), p), lambda s: s["shingle"])
        ).alias("shingle"),
    )
    a = prefix.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "shingle")
    b = prefix.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "shingle")
    # Size filter (AllPairs): jaccard >= t forces t*|larger| <= |smaller|
    # -- applied BEFORE the distinct so size-mismatched pairs never
    # enter the dedup shuffle. Relaxed by 1 element so float rounding
    # can never drop an exactly-at-threshold pair; verification is
    # exact either way.
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("sz_a", "sz_b")
            >= F.greatest("sz_a", "sz_b") * F.lit(threshold) - F.lit(1.0)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy("id").agg(
        F.sort_array(F.collect_set("shingle")).alias("shset")
    )
    sets_a = sets.select(F.col("id").alias("id_a"), F.col("shset").alias("set_a"))
    sets_b = sets.select(F.col("id").alias("id_b"), F.col("shset").alias("set_b"))
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("set_a", "set_b")).cast("long")
        )
        .withColumn(
            "union_sz",
            (F.size("set_a") + F.size("set_b")).cast("long") - F.col("inter"),
        )
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "union_sz", "jaccard")
    )
