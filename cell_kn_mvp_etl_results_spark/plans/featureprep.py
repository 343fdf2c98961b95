"""Feature/loader-prep query plans: equal-frequency quantile binning
(rank-without-global-sort), mixture-weighted curriculum interleave
ordering, token-budget truncation, embedding-centroid drift, and
group-wise z-score normalization -- the last-mile operators between a
curated corpus and the training loader (how values are bucketed and
normalized for features, in what order documents are served, how each
document is clipped to the context window, and whether a re-embedded
snapshot moved in embedding space)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents
from ..sources.readers import read_table
from .registry import query

_N_BINS = 8
_TOKEN_BUDGET = 64
_MIX_WEIGHTS = {"src0": 8, "src1": 4, "src2": 2}  # others weight 1
_MIX_SCALE = 8  # lcm of the weights


def _quantile_bins_oracle() -> str:
    return f"""
WITH r AS (
  SELECT o_orderkey AS id,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
         row_number() OVER (
           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                    md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
         ) AS rnk,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST(((rnk - 1) * {_N_BINS}) // n AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(price_c) AS BIGINT) AS min_cents,
       CAST(max(price_c) AS BIGINT) AS max_cents,
       CAST(sum(price_c) AS BIGINT) AS sum_cents
FROM r
GROUP BY 1
ORDER BY bin
"""


@query(
    "q_quantile_bins",
    tags=("profiling", "featureprep"),
    oracle=_quantile_bins_oracle(),
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning of order totals into 8 bins
    with exact per-bin stats -- the feature-bucketization primitive
    (and the exact audit of ``approx_percentile`` boundaries). The
    global rank comes from ``packing.value_rank``: value-range buckets
    + per-bucket row_number + cumulative bucket counts, so NO stage
    sorts the corpus in one partition even though o_totalprice is
    near-unique (the case where balanced_shards' per-value bucketing
    would degenerate). Bin = ((rnk-1) * n_bins) div N, exact integers
    end-to-end (cents doctrine); the oracle's row_number() OVER
    (ORDER BY ...) is the single-sort semantics this plan reproduces
    distributively.
    """
    from ..operators.packing import value_rank

    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("id"), cents("o_totalprice").alias("price_c")
    )
    # o_totalprice spans ~ [1e5, 6e7) cents -> ~60 range buckets at 1e6.
    ranked = value_rank(base, "id", "price_c", bucket_width=1_000_000)
    # N from the bare scan, NOT from `ranked`: counting the ranked
    # subtree would recompute the whole two-level rank a second time
    # (measured 10 exchanges vs 6 in the executed plan).
    total = base.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("bin", F.expr(f"((rnk - 1) * {_N_BINS}) div _n"))
        .groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price_c").cast("long").alias("min_cents"),
            F.max("price_c").cast("long").alias("max_cents"),
            F.sum("price_c").cast("long").alias("sum_cents"),
        )
        .orderBy("bin")
    )


def _curriculum_oracle() -> str:
    return f"""
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rank_in_source,
         CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
                     WHEN 'src2' THEN 2 ELSE 1 END AS w
  FROM documents
)
SELECT doc_id, source, rank_in_source,
       CAST(rank_in_source * ({_MIX_SCALE} // w) AS BIGINT) AS interleave_key
FROM r
ORDER BY interleave_key, source, doc_id
LIMIT 200
"""


@query(
    "q_curriculum_order",
    tags=("sampling", "featureprep"),
    oracle=_curriculum_oracle(),
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted deterministic serving order
    (operators/selection.interleave_by_weight): the first 200 ticks of
    the training-data schedule in which src0 is upsampled 8x, src1 4x,
    src2 2x over the tail sources -- stride scheduling (virtual time)
    realized as one integer projection, so the epoch order is
    reproducible and resumable from any offset instead of living
    inside a stateful loader. interleave_key = rank_in_source *
    (scale div weight); ascending key order IS the schedule. Plan:
    per-source window rank + projection + TakeOrderedAndProject --
    the corpus is never globally sorted for the LIMIT head.
    """
    from ..operators.selection import interleave_by_weight

    d = read_table(spark, sf_dir, "documents")
    return (
        interleave_by_weight(
            d, "doc_id", "source", _MIX_WEIGHTS, default_weight=1
        )
        .orderBy("interleave_key", "source", "doc_id")
        .limit(200)
    )


def _truncate_oracle() -> str:
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x != '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(least(len(toks), {_TOKEN_BUDGET}) AS BIGINT) AS kept_tokens,
       CAST(CASE WHEN len(toks) > {_TOKEN_BUDGET} THEN 1 ELSE 0 END
            AS BIGINT) AS truncated,
       array_to_string(toks[1:{_TOKEN_BUDGET}], ' ') AS clipped_text
FROM t
ORDER BY doc_id
"""


@query(
    "q_truncate_budget",
    tags=("textanalysis", "featureprep"),
    oracle=_truncate_oracle(),
)
def q_truncate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget truncation (context-window clipping): keep each
    document's first 64 whitespace tokens, reporting original/kept
    token counts and the truncation flag alongside the clipped text.
    The whole operator is one map-side projection over Catalyst array
    functions (split / filter / slice / array_join) -- no shuffle, no
    Python; whitespace semantics (trim + '\\s+' split + single-space
    rejoin) are pinned identically in both engines so the clipped
    text hashes bit-identically.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    return (
        d.select(F.col("doc_id"), toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.least(F.size("toks"), F.lit(_TOKEN_BUDGET))
            .cast("long")
            .alias("kept_tokens"),
            F.when(F.size("toks") > _TOKEN_BUDGET, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("truncated"),
            F.array_join(
                F.slice("toks", 1, _TOKEN_BUDGET), " "
            ).alias("clipped_text"),
        )
        .orderBy("doc_id")
    )


def _embedding_drift_oracle() -> str:
    return """
WITH base AS (
  SELECT label, (vec_id % 2) = 0 AS is_old,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q
  FROM embeddings
),
ex AS (
  SELECT label, is_old, d.i AS dim, q[d.i] AS qv
  FROM base, (SELECT unnest(range(1, 65)) AS i) d
),
s AS (
  SELECT label, dim,
         CAST(coalesce(sum(CASE WHEN is_old THEN qv END), 0) AS BIGINT) AS sa,
         CAST(coalesce(sum(CASE WHEN NOT is_old THEN qv END), 0) AS BIGINT) AS sb,
         CAST(count(CASE WHEN is_old THEN 1 END) AS BIGINT) AS na,
         CAST(count(CASE WHEN NOT is_old THEN 1 END) AS BIGINT) AS nb
  FROM ex GROUP BY 1, 2
),
d AS (
  SELECT label, na, nb,
         CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na AS diff
  FROM s
)
SELECT label,
       CAST(max(na) AS BIGINT) AS n_old,
       CAST(max(nb) AS BIGINT) AS n_new,
       sqrt(CAST(sum(diff * diff) AS DOUBLE))
         / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE) * 10000.0)
         AS l2_shift
FROM d GROUP BY label ORDER BY label
"""


@query(
    "q_embedding_drift",
    tags=("similarity", "profiling", "featureprep"),
    oracle=_embedding_drift_oracle(),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid L2 shift between two corpus
    snapshots (even vec_ids = old, odd = new): the embedding-space
    drift monitor that pairs with q_quality_drift's token-level one --
    a re-embedded crawl or a changed encoder shows up as centroid
    movement long before downstream metrics move. Exact to the last
    bit: quantized components (1e4 doctrine), per-(label, side, dim)
    integer sums, cross-multiplied mean difference sa*nb - sb*na kept
    in decimal/HUGEINT so nothing rounds until ONE final sqrt + ONE
    division. Plan: map-side posexplode + two partial-aggregated
    shuffles bounded by |labels| x 64 dims -- never by corpus size.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 10000).cast("long"),
    )
    base = e.select(
        "label", (F.col("vec_id") % 2 == 0).alias("is_old"), q.alias("q")
    )
    ex = base.select(
        "label", "is_old", F.posexplode("q").alias("d0", "qv")
    ).withColumn("dim", F.col("d0") + 1)
    dec = "decimal(38,0)"
    s = ex.groupBy("label", "dim").agg(
        F.coalesce(F.sum(F.when(F.col("is_old"), F.col("qv"))), F.lit(0))
        .cast("long")
        .alias("sa"),
        F.coalesce(F.sum(F.when(~F.col("is_old"), F.col("qv"))), F.lit(0))
        .cast("long")
        .alias("sb"),
        F.count(F.when(F.col("is_old"), F.lit(1))).alias("na"),
        F.count(F.when(~F.col("is_old"), F.lit(1))).alias("nb"),
    )
    diff = (
        F.col("sa").cast(dec) * F.col("nb") - F.col("sb").cast(dec) * F.col("na")
    ).alias("diff")
    d = s.select("label", "na", "nb", diff)
    return (
        d.groupBy("label")
        .agg(
            F.max("na").cast("long").alias("n_old"),
            F.max("nb").cast("long").alias("n_new"),
            F.sum((F.col("diff") * F.col("diff")).cast(dec)).alias("_num"),
        )
        .select(
            "label",
            "n_old",
            "n_new",
            (
                F.sqrt(F.col("_num").cast("double"))
                / (
                    F.col("n_old").cast("double")
                    * F.col("n_new").cast("double")
                    * F.lit(10000.0)
                )
            ).alias("l2_shift"),
        )
        .orderBy("label")
    )


def _zscore_oracle() -> str:
    return """
WITH m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS s,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS q
  FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
       CASE WHEN m.n * m.q - m.s * m.s = 0 THEN NULL
            ELSE CAST(m.n * d.n_chars - m.s AS DOUBLE)
                 / sqrt(CAST(m.n * m.q - m.s * m.s AS DOUBLE))
       END AS z
FROM documents d JOIN m USING (source)
ORDER BY d.doc_id
"""


@query(
    "q_zscore_by_source",
    tags=("textanalysis", "featureprep"),
    oracle=_zscore_oracle(),
)
def q_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score normalization of document length -- the
    group-wise feature-normalization primitive (population moments;
    quality classifiers want "how long is this doc FOR ITS SOURCE",
    not absolutely). Exact shape: z = (n*x - S) / sqrt(n*Q - S^2)
    over per-source integer moments (n, S=sum x, Q=sum x^2), so the
    only IEEE ops are ONE int->double division and ONE sqrt --
    bit-identical across engines; zero-variance groups yield NULL in
    both. Plan: one map-side-combined |sources|-row aggregate
    broadcast back onto the corpus, then pure projection -- the
    corpus is scanned twice but never shuffled.
    """
    d = read_table(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q"),
    )
    var_n = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (
        d.join(F.broadcast(m), "source")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.when(var_n == 0, F.lit(None).cast("double"))
            .otherwise(
                (F.col("n") * F.col("n_chars") - F.col("s")).cast("double")
                / F.sqrt(var_n.cast("double"))
            )
            .alias("z"),
        )
        .orderBy("doc_id")
    )


def _dedup_weighted_oracle() -> str:
    return r"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS h,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x != '')) AS t
  FROM documents
),
k AS (SELECT h, count(*) AS k FROM d GROUP BY h)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.h) AS BIGINT) AS n_unique_texts,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       CAST(sum(t * (1000000 // k.k)) AS BIGINT) AS weighted_tokens_ppm
FROM d JOIN k USING (h)
GROUP BY source
ORDER BY source
"""


@query(
    "q_dedup_weighted_stats",
    tags=("dedup", "profiling", "featureprep"),
    oracle=_dedup_weighted_oracle(),
)
def q_dedup_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-weighted corpus statistics: per source, raw doc/token
    counts next to the DEDUP-AWARE token count where each document
    weighs 1/k for duplicate-group size k -- the corpus-card number
    that does not double-count a page crawled from ten mirrors (each
    group contributes its token mass once, split across the sources
    that carry it). Weights are exact integers (ppm via floor
    division, positive operands so both engines' integer division
    agree), so the result hashes bit-identically. Plan: one content
    md5 groupBy for the group sizes, one co-partitioned join back on
    the same hash key (no second shuffle of the corpus side under
    AQE's exchange reuse), then a |sources|-row aggregate. At scale
    this reads the already-materialized dedup layer instead
    (``materialized.dedup_components_frame``).
    """
    from ..functions.text import tokens as _tokens

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(_tokens("text")).cast("long").alias("t"),
    )
    k = d.groupBy("h").agg(F.count(F.lit(1)).alias("k"))
    return (
        d.join(k, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_unique_texts"),
            F.sum("t").cast("long").alias("n_tokens"),
            F.sum(F.col("t") * F.expr("1000000 div k"))
            .cast("long")
            .alias("weighted_tokens_ppm"),
        )
        .orderBy("source")
    )
