"""Semantic clustering over an embedding column: deterministic,
integer-exact Lloyd (k-means) iterations.

Clustering is the curation primitive the similarity family was missing:
near-dup families (dedup.connected_components) give you *components* of
an explicit pair graph, while k-means partitions the WHOLE corpus into
semantic regions -- the building block for topic balancing, cluster-cap
sampling ("at most N documents per semantic cluster"), and
cluster-exemplar dataset distillation.

Determinism doctrine (same as the integer-cents money aggregates and
the integer PageRank, plans/registry.py): floating-point k-means is not
oracle-gateable (summation order changes centroids), so components are
quantized to integers (round(x * 10^q), the similarity-module scheme),
distances are exact integer sums of squares (< 2^53, order-free), the
argmin tie-breaks on the lowest cluster index, and centroid updates are
floor(sum / count) computed as the SAME IEEE shape in every engine
(CAST(floor(CAST(sum AS DOUBLE) / count) AS BIGINT) -- note Spark's
``div`` truncates toward zero while DuckDB's ``//`` floors, so neither
engine's native integer division is portable on negative sums).

Scale shape (the MLlib layout): assignment is a pure map-side
projection against k x dim centroid LITERALS -- no join, no shuffle;
the update is one aggregation with at most k x dim groups (map-side
combine collapses each task to centroid size); the only driver traffic
is the k x dim centroid table per round, which is the irreducible state
of distributed Lloyd and thousands of times smaller than the 1M-row
interop guard (sources/sinks.py). Reference parity: the reference has
no clustering operator -- this extends its embedding handling
(``cell-kn-mvp-etl-results`` stores NSForest marker vectors but only
joins them); clustering is the training-data-pipeline extension the
task brief calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_integer", "kmeans_fit", "kmeans_assign"]


# -- distance/argmin builders, as SQL text (r12 optimization) --------------
#
# Composing the k x dim centroid literals through the Column API costs
# one py4j round trip per literal plus several per lambda; an 8x64
# argmin is ~1000+ driver<->JVM calls and measured SECONDS of pure
# builder() time per rebuild-regime call (build 3.9 s vs exec 0.46 s
# for q_ivf_topk, OPTIMIZATION_r12.md). Emitting the SAME expression as
# one SQL string hands the JVM a single parse; the parsed Catalyst tree
# is identical (zip_with/aggregate/array_position/array_min with long
# literals) -- the khop "SQL-text over registered views" doctrine
# applied to expression construction.


def _sq_dist_sql(vec_sql: str, centroid: list[int]) -> str:
    """Exact integer squared distance between the array<long>
    expression ``vec_sql`` and a centroid literal, as SQL text: one
    aggregate(zip_with(...)) tree, one parse."""
    lits = ", ".join(f"{int(v)}L" for v in centroid)
    return (
        f"aggregate(zip_with({vec_sql}, array({lits}), "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )


def _dists_array_sql(vec_sql: str, cents: dict[int, list[int]]) -> str:
    """The per-centroid distance array (cluster index order) as SQL."""
    return (
        "array("
        + ", ".join(_sq_dist_sql(vec_sql, cents[j]) for j in sorted(cents))
        + ")"
    )


def _argmin_cluster_sql(dists_sql: str) -> str:
    """First-index argmin over the distance array: ties break toward
    the lowest cluster id."""
    return f"(array_position({dists_sql}, array_min({dists_sql})) - 1)"


def kmeans_integer(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    quantize: int = 4,
) -> DataFrame:
    """Fixed-iteration Lloyd clustering in exact integer arithmetic.

    Init: the k lowest-``id_col`` vectors, cluster index = rank order
    (pure function of the data -- no RNG, so membership is identical on
    any engine or partitioning; production would plug k-means|| here).
    Each round: map-side argmin assignment against broadcast-literal
    centroids (ties -> lowest cluster), then one <= k x dim-group
    aggregation for the floor-mean update; a cluster that loses all
    members keeps its previous centroid. Returns
    (id, cluster, d2) -- final assignment plus exact squared distance.

    The per-round centroid table (k x dim longs) is collected to the
    driver: that is Lloyd's irreducible synchronization point, the same
    structure MLlib uses, and orders of magnitude under the 1M-row
    collect guard documented in sources/sinks.py.
    """
    assigned, _cents = kmeans_fit(emb, id_col, vec_col, k, iters, quantize)
    return assigned.select("id", "cluster", "d2")


def kmeans_assign(
    emb: DataFrame,
    cents: dict[int, list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 4,
) -> DataFrame:
    """Assignment against a TRAINED centroid table: the serving half of
    ``kmeans_fit`` — one map-side projection (quantize, argmin over
    centroid literals, exact d2), no join, no shuffle, no driver sync.
    Returns (id, q, cluster, d2), exactly the frame ``kmeans_fit``
    returns for the same ``cents`` (row-identity pinned in
    tests/test_clustering.py). Centroids are the model artifact a
    deployment persists (module docstring); training per query call was
    3 corpus jobs of driver-synced Lloyd state per rebuild-regime run
    (OPTIMIZATION_r12.md)."""
    scale = 10**quantize
    q = emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * scale).cast("long"),
        ).alias("q"),
    )
    dists = _dists_array_sql("q", cents)
    return q.select(
        "id",
        "q",
        F.expr(_argmin_cluster_sql(dists)).alias("cluster"),
        F.expr(f"array_min({dists})").alias("d2"),
    )


def kmeans_fit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    quantize: int = 4,
) -> tuple[DataFrame, dict[int, list[int]]]:
    """``kmeans_integer`` exposing the trained model: returns
    (assignment DataFrame (id, q, cluster, d2) -- the quantized vector
    column retained for downstream scoring -- and the FINAL centroids
    as {cluster: [int components]}). The centroid table is what an IVF
    index probes (similarity-search cells) and what a deployment
    persists as the model artifact.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got k={k} iters={iters}")
    scale = 10**quantize
    q = emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * scale).cast("long"),
        ).alias("q"),
    ).persist()
    init = q.orderBy("id").limit(k).collect()
    cents: dict[int, list[int]] = {i: list(r.q) for i, r in enumerate(init)}

    def assigned() -> DataFrame:
        dists = _dists_array_sql("q", cents)
        # array_position returns the FIRST index holding the min ->
        # ties break toward the lowest cluster id, deterministically.
        return q.select(
            "id",
            "q",
            F.expr(_argmin_cluster_sql(dists)).alias("cluster"),
            F.expr(f"array_min({dists})").alias("d2"),
        )

    for _ in range(iters):
        upd = (
            assigned()
            .select("cluster", F.posexplode("q").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.expr(
                    "CAST(floor(CAST(sum(val) AS DOUBLE) / count(1)) AS BIGINT)"
                ).alias("cval")
            )
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd.collect():  # <= k x dim rows
            by_cluster.setdefault(int(r.cluster), {})[int(r.pos)] = int(r.cval)
        for j, posmap in by_cluster.items():
            cents[j] = [posmap[p] for p in range(len(posmap))]
        # clusters absent from by_cluster keep their previous centroid
    out = assigned()
    # The driver syncs are done: release the cached quantization rather
    # than leaking one persisted relation per call. The returned plan
    # recomputes q's map-side projection once when the caller executes
    # it -- a scan-cost trade for not pinning executor storage.
    q.unpersist()
    return out, cents


def cluster_purity(
    assignments: DataFrame, labeled: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """Purity evaluation of a cluster assignment against ground-truth
    labels: per cluster its size, majority label, majority count, and
    purity in exact integer permille (ties broken by lowest label --
    deterministic). ``assignments`` is (id, cluster) (e.g. from
    kmeans_integer); ``labeled`` provides (id_col, label_col).

    Scale shape: one id-keyed hash join, one (cluster, label)
    aggregation, then everything is cluster-keyed (k-sized): a majority
    window and a totals join. Integer division keeps the permille
    engine-exact.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    lab = (
        assignments.join(
            labeled.select(F.col(id_col).alias("id"), F.col(label_col).alias("label")),
            "id",
        )
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = lab.groupBy("cluster").agg(F.sum("n").alias("n_vecs"))
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), "label")
    maj = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    return tot.join(maj, "cluster").select(
        "cluster",
        "n_vecs",
        "majority_label",
        "n_majority",
        F.expr("(n_majority * 1000) div n_vecs").alias("purity_permille"),
    )


def kcenter_coreset(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    quantize: int = 4,
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection: start
    from the lowest-id vector, then repeatedly pick the point farthest
    (exact integer squared distance, ties toward the lowest id) from
    everything chosen so far. The classic 2-approximation to the
    k-center cover -- the diversity-maximizing complement of
    cluster-exemplar distillation (exemplars pick DENSE
    representatives; the coreset picks SPREAD, covering the corpus's
    extremes with m points). Returns (rank, vec_id, d2) with d2 the
    point's distance to the previously-chosen set at selection time
    (the classic coverage-radius curve; rank 0's is 0 by convention).

    Scale shape: m-1 rounds, each one map-side min-distance projection
    against <= m broadcast centroid literals plus a TakeOrdered(1)
    argmax -- the same irreducible 1-row driver sync per round as
    sequential BPE's merge argmax; no shuffle anywhere (the quantized
    corpus is persisted once and released before return).
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    scale = 10**quantize
    q = emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * scale).cast("long"),
        ).alias("q"),
    ).persist()
    first = q.orderBy("id").limit(1).collect()
    if not first:
        q.unpersist()
        raise ValueError("kcenter_coreset: empty input")
    centers: list[list[int]] = [list(first[0].q)]
    picks: list[tuple[int, int, int]] = [(0, int(first[0].id), 0)]
    for r in range(1, m):
        dists = [_sq_dist_sql("q", c) for c in centers]
        mind2 = F.expr(
            dists[0] if len(dists) == 1 else f"least({', '.join(dists)})"
        )
        far = (
            q.select("id", "q", mind2.alias("d2"))
            .orderBy(F.desc("d2"), "id")
            .limit(1)
            .collect()[0]
        )
        picks.append((r, int(far.id), int(far.d2)))
        centers.append(list(far.q))
    q.unpersist()
    return emb.sparkSession.createDataFrame(
        picks, "rank long, vec_id long, d2 long"
    )
