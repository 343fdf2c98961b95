"""Fingerprint-keyed TRAINED-MODEL registry (r12 optimization round).

The vector-index queries train their models inside the query builders:
integer-Lloyd centroids (``clustering.kmeans_fit``), PQ codebooks
(``pq.pq_fit``), and the tiny collected query-side matrices
(``similarity.prepare_cosine_queries`` / the PQ query rows). Training
is a pure, deterministic function of the corpus (lowest-id init, fixed
iterations, exact integer arithmetic) and IS the model artifact a
serving deployment persists next to its index — the FAISS
train/add/search lifecycle; the kmeans_fit/pq module docstrings say so
explicitly. Re-running Lloyd's driver-synced corpus jobs per query
call was ~42% of the all-registry rebuild-regime sweep
(scripts/query_sweep.py; OPTIMIZATION_r12.md).

Same serving doctrine as the minhash signature/LSH-index views, the
khop hop frames and the cosine prepared matrices: each model is a
serving-store entry (serving.py) keyed by (session, sf_dir, kind and
training params) and stamped with the input file's fingerprint, so a
regenerated corpus RETRAINS instead of serving a stale model. Values
are plain driver data (k x dim ints, a handful of collected rows) —
never persisted frames or catalog views — so a displaced model needs
no release.

``SPARK_GRAFT_SERVING=off`` forces in-query training — the
one-shot-run posture, and what the row-identity tests pin the registry
path against. Each query's DuckDB oracle retrains from scratch
relationally either way, so the oracle-parity gate verifies the
registry path end to end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

from ..serving import serve
from ..sources.readers import read_table


def _model(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    params: tuple,
    trainer: Callable[[], object],
    table: str | None = "embeddings",
) -> object:
    """``table`` names the parquet source whose fingerprint guards the
    entry (embeddings for the vector family, documents for the
    tokenizer). ``table=None`` is for models trained on a SYNTHETIC
    corpus that is a pure function of the params already in the key —
    there is no on-disk input whose regeneration could stale them.
    The params are part of the entry NAME, so models of one kind with
    different params (two k values) are held side by side."""
    files = (table,) if table else ()
    return serve(spark, sf_dir, f"model.{kind}{params}", files, trainer)


def kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    iters: int = 2,
    quantize: int = 4,
) -> dict[int, list[int]]:
    """The trained integer-Lloyd centroid table for this corpus
    fingerprint — serving calls assign against it map-side
    (``clustering.kmeans_assign``) instead of re-running the fit's
    driver-synced jobs."""
    from ..operators.clustering import kmeans_fit

    def train() -> dict[int, list[int]]:
        emb = read_table(spark, sf_dir, "embeddings")
        _, cents = kmeans_fit(emb, "vec_id", "embedding", k, iters, quantize)
        return cents

    return _model(spark, sf_dir, "kmeans", (k, iters, quantize), train)


def pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    quantize: int = 4,
) -> list[dict[int, list[int]]]:
    """The trained per-subspace PQ codebooks for this corpus
    fingerprint — serving calls encode against them map-side
    (``pq.pq_encode``)."""
    from ..operators.pq import pq_fit

    def train() -> list[dict[int, list[int]]]:
        emb = read_table(spark, sf_dir, "embeddings")
        _codes, books = pq_fit(
            emb, "vec_id", "embedding", dim, m, k, iters, quantize
        )
        return books

    return _model(spark, sf_dir, "pq", (dim, m, k, iters, quantize), train)


def quantized_query_rows(
    spark: SparkSession, sf_dir: str, n_queries: int, quantize: int = 4
) -> list:
    """The collected (id, q) rows of the first ``n_queries`` vectors,
    quantized — the PQ/IVF-PQ query side. Corpus data, not plan: a
    serving engine prepares its query matrix once per corpus snapshot
    (the ``prepare_cosine_queries`` precedent); re-collecting it was
    one Spark job per rebuild-regime call."""
    from pyspark.sql import functions as F

    def collect() -> list:
        emb = read_table(spark, sf_dir, "embeddings")
        scale = 10**quantize
        return (
            emb.filter(F.col("vec_id") < n_queries)
            .select(
                F.col("vec_id").alias("id"),
                F.transform(
                    F.col("embedding"),
                    lambda x: F.round(x.cast("double") * scale).cast("long"),
                ).alias("q"),
            )
            .collect()
        )

    return _model(spark, sf_dir, "qrows", (n_queries, quantize), collect)


def bpe_merge_rows(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 8,
    batch: int = 1,
    max_word_syms: int = 64,
) -> list[tuple]:
    """The trained BPE merge table for this corpus fingerprint, as
    plain (step, left, right, merged, pair_count) tuples. The merge
    list IS the tokenizer artifact a deployment ships (operators/bpe
    module docstring — "a 100 TB tokenization job ships only the merge
    table"); retraining it was n_merges driver-synced recount rounds
    per rebuild-regime call of every tokenizer query."""
    from ..operators.bpe import bpe_train_merges

    def train() -> list[tuple]:
        d = read_table(spark, sf_dir, "documents")
        return [
            tuple(r)
            for r in bpe_train_merges(
                d, "text", n_merges=n_merges,
                max_word_syms=max_word_syms, batch=batch,
            ).collect()
        ]

    return _model(
        spark,
        sf_dir,
        "bpe",
        (n_merges, batch, max_word_syms),
        train,
        table="documents",
    )


def natural_vocab_bpe_rows(
    spark: SparkSession,
    n_words: int,
    n_tokens: int,
    doc_len: int,
    seed: int,
    n_merges: int,
    batch: int = 1,
) -> list[tuple]:
    """Trained merges over the SYNTHETIC natural-vocabulary corpus —
    a pure function of the parameters (sources/synthetic), so the
    entry is keyed by them alone (no on-disk fingerprint exists)."""
    from ..operators.bpe import bpe_train_merges
    from ..sources.synthetic import natural_vocab_corpus

    def train() -> list[tuple]:
        corpus = natural_vocab_corpus(
            spark,
            n_words=n_words,
            n_tokens=n_tokens,
            doc_len=doc_len,
            seed=seed,
            n_partitions=8,
        )
        return [
            tuple(r)
            for r in bpe_train_merges(
                corpus, "text", n_merges=n_merges, batch=batch
            ).collect()
        ]

    return _model(
        spark,
        "<synthetic>",
        "bpe_nv",
        (n_words, n_tokens, doc_len, seed, n_merges, batch),
        train,
        table=None,
    )


def cosine_prepared_queries(
    spark: SparkSession,
    sf_dir: str,
    max_id: int,
    quantize: int = 4,
    exclude_label_col: str | None = None,
    max_rows: int | None = None,
) -> tuple:
    """A ``similarity.prepare_cosine_queries`` result for the standard
    ``vec_id < max_id`` query set, prepared once per corpus fingerprint
    — the q_cosine_topk prepared-query doctrine shared across every
    ``cosine_topk_arrow`` consumer (recall audit, mutual-kNN, hard
    negatives, drift) instead of one collect job per call each.
    ``max_rows`` bounds the collected side (VERDICT r12 #6) -- see
    ``prepare_cosine_queries``; exceeding it raises before the driver
    holds more than the cap."""
    from pyspark.sql import functions as F

    from ..operators.similarity import prepare_cosine_queries

    def prep() -> tuple:
        emb = read_table(spark, sf_dir, "embeddings")
        return prepare_cosine_queries(
            emb.filter(F.col("vec_id") < max_id),
            "vec_id",
            "embedding",
            quantize=quantize,
            exclude_label_col=exclude_label_col,
            max_rows=max_rows,
        )

    return _model(
        spark,
        sf_dir,
        "cosine_q",
        (max_id, quantize, exclude_label_col, max_rows),
        prep,
    )


def lineitem_hot1_skew(spark: SparkSession, sf_dir: str) -> int:
    """The ``skew_x1000`` ANALYZE statistic for the chooser gate's
    synthetic hot-key fact (every even-orderkey lineitem collapses onto
    supplier key 1 -- the projection in
    plans/relational.q_skew_chooser_join, kept in sync by
    tests/test_scale_ops.py's routing assertion). skew_aware_join's own
    docstring says the stat "normally comes from persisted ANALYZE
    output"; this registry entry IS that output, measured once per
    lineitem fingerprint instead of one full diagnostic scan per build
    (the scan was ~70% of the query's rebuild wall). A wrong-by-drift
    stat can only change the ROUTE, never the rows -- every remedy is
    row-identical by construction."""
    from pyspark.sql import functions as F

    from ..operators.scale import key_skew_profile

    def measure() -> int:
        li = read_table(spark, sf_dir, "lineitem")
        fact = li.select(
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
            .otherwise(F.col("l_suppkey"))
            .cast("long")
            .alias("sk")
        )
        return int(
            key_skew_profile(fact, ("sk",)).collect()[0]["skew_x1000"]
        )

    return _model(
        spark, sf_dir, "skew_profile", ("lineitem", "sk_hot1"), measure,
        table="lineitem",
    )
