"""Near-dup clustering in the gate: pairs -> connected components ->
dedup groups, checked against a recursive-CTE transitive-closure oracle.
An oracle-verified *iterative* distributed graph algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..operators import dedup as dd
from ..sources.readers import read_table
from .llmdata import _SHINGLES_SQL
from .registry import REGISTRY, query


@query(
    "q_dedup_clusters",
    # closure_oracle: the reach CTE materializes ALL-PAIRS reachability,
    # quadratic in near-dup family size -- it DNF'd (>900 s) on the 30x
    # sweep corpus where families have 30 members (r6 verdict #6). The
    # parity suite size-gates queries with this tag so it can never
    # silently inherit a quarter-hour oracle; the Spark fixpoint itself
    # is linear-per-round and runs at any scale.
    tags=("dedup", "graph", "closure_oracle"),
    oracle=f"""
WITH RECURSIVE {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
),
bidir AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN bidir e ON e.a = r.dst
),
comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
SELECT component,
       count(*) AS n_members,
       min(doc_id) AS keeper
FROM comp
GROUP BY component
ORDER BY component
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups: Jaccard near-dup pairs (threshold 0.05) clustered
    by iterative min-label propagation (operators/dedup.
    connected_components); each component keeps its min-id document.
    The oracle computes the same components via recursive transitive
    closure -- validating the distributed fixpoint loop against
    relational semantics.
    """
    from .materialized import dedup_components_frame

    # r8 (VERDICT r7 #3): components served from the auto-materialized
    # bucketed table shared with splitting/exemplar serving; the CC
    # fixpoint runs once per corpus fingerprint.
    # SPARK_GRAFT_SERVING=off recomputes inline (row-identical).
    comp = dedup_components_frame(spark, sf_dir)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("keeper"),
        )
        .orderBy("component")
    )

@query(
    "q_dedup_exemplar",
    # closure_oracle: see q_dedup_clusters -- same quadratic reach CTE.
    tags=("dedup", "graph", "W1", "closure_oracle"),
    oracle=f"""
WITH RECURSIVE {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
),
bidir AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN bidir e ON e.a = r.dst
),
comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
ranked AS (
  SELECT comp.component, comp.doc_id, d.n_chars,
         row_number() OVER (
           PARTITION BY comp.component
           ORDER BY d.n_chars DESC, comp.doc_id) AS rk,
         count(*) OVER (PARTITION BY comp.component) AS n_members
  FROM comp JOIN documents d ON d.doc_id = comp.doc_id
)
SELECT component, doc_id AS exemplar_id,
       CAST(n_chars AS BIGINT) AS exemplar_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rk = 1
ORDER BY component
""",
)
def q_dedup_exemplar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation's keep-the-best rule on near-dup clusters: per connected
    component, the exemplar is the member with the most content
    (n_chars, deterministic doc_id tie-break) rather than the min id --
    what a real pipeline keeps when duplicates differ by truncation.
    Clusters come from the same oracle-verified fixpoint as
    ``q_dedup_clusters``; exemplar selection is a W1 top-1-per-group
    window, map-side-limited before the shuffle (WindowGroupLimit).
    """
    from .materialized import dedup_components_frame

    # r8 (VERDICT r7 #3): exemplar SERVING reads the materialized
    # component table by default -- selection is then one doc_id-
    # co-located join + W1 window over it, no per-call CC.
    d = read_table(spark, sf_dir, "documents")
    comp = dedup_components_frame(spark, sf_dir)
    members = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    return (
        members.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("exemplar_id"),
            F.col("n_chars").cast("long").alias("exemplar_chars"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("component")
    )


# Same assignment as q_semantic_clusters (oracle-verified integer
# Lloyd); SemDeDup consumes the (vec_id, cluster) columns of it.
from .extended2 import _kmeans_oracle  # noqa: E402

_semdedup_kmeans_oracle = _kmeans_oracle(k=8, iters=2, dim=64, quantize=4)


@query(
    "q_semdedup",
    # smallscale_quadratic: with the oracle-pinned k=8, in-cluster pair
    # count grows as (N/8)^2 in BOTH engines -- fine at the gate
    # corpora, DNF territory on the 10x+ sweep corpora. The parity
    # suite size-gates the tag; at scale SemDeDup chooses k ~ N/1000 so
    # cluster sizes (and the pairing) stay constant, which the
    # registered query cannot do because the unrolled-CTE oracle needs
    # a literal k.
    tags=("dedup", "similarity", "cluster", "smallscale_quadratic"),
    oracle=f"""
WITH res AS (
{_semdedup_kmeans_oracle}
),
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS v
  FROM embeddings
),
nv AS (SELECT vec_id, v, list_dot_product(v, v) AS norm FROM qv),
dups AS (
  SELECT DISTINCT b.vec_id AS dup_id
  FROM res a
  JOIN res b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN nv na ON na.vec_id = a.vec_id
  JOIN nv nb ON nb.vec_id = b.vec_id
  WHERE list_dot_product(na.v, nb.v) / sqrt(na.norm * nb.norm) >= 0.35
)
SELECT r.vec_id, CAST(r.cluster AS BIGINT) AS cluster,
       (d.dup_id IS NULL) AS kept
FROM res r LEFT JOIN dups d ON d.dup_id = r.vec_id
ORDER BY vec_id
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means partitioning + WITHIN-CLUSTER cosine.
    A vector is dropped when a lower-id member of its own semantic
    cluster is within cosine >= 0.35 (quantized-integer scoring, so the
    verdict is engine-exact); cluster assignment is the oracle-verified
    integer Lloyd of q_semantic_clusters.

    Scale posture: the clustering bounds candidate generation -- pairs
    form only inside a cluster, shuffled on the cluster id, never
    across the corpus (the paper's reason for pre-clustering: k is
    chosen so clusters hold ~thousands of items, making in-cluster
    pairing tractable at web scale while cross-cluster near-dups are
    rare by construction). The keep-rule anti-join is a broadcast of
    the (small) dup-id set at these sizes and stays an equi-join at
    any size.
    """
    from ..operators.clustering import kmeans_assign
    from ..operators.similarity import _quantized, dot
    from .models import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(spark, sf_dir, k=8, iters=2, quantize=4)
    asg = kmeans_assign(emb, cents, "vec_id", "embedding", quantize=4).select(
        F.col("id").alias("vec_id"), "cluster"
    )
    nv = emb.select(
        "vec_id", _quantized(F.col("embedding"), 4).alias("v")
    ).select("vec_id", "v", dot(F.col("v"), F.col("v")).alias("norm"))
    m = asg.join(nv, "vec_id")
    a = m.select(
        F.col("vec_id").alias("a_id"),
        "cluster",
        F.col("v").alias("a_v"),
        F.col("norm").alias("a_norm"),
    )
    b = m.select(
        F.col("vec_id").alias("b_id"),
        "cluster",
        F.col("v").alias("b_v"),
        F.col("norm").alias("b_norm"),
    )
    dups = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            dot(F.col("a_v"), F.col("b_v"))
            / F.sqrt(F.col("a_norm") * F.col("b_norm"))
            >= 0.35
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        asg.join(dups.withColumn("_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.col("_dup").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


@query(
    "q_split_leakage_safe",
    # closure_oracle: same quadratic reach CTE as q_dedup_clusters.
    tags=("dedup", "sampling", "graph", "closure_oracle"),
    oracle=f"""
WITH RECURSIVE {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
),
bidir AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN bidir e ON e.a = r.dst
),
comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
tok AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
),
lab AS (
  SELECT c.doc_id, c.component,
         CASE
           WHEN ('0x' || substr(md5('split-' || c.component), 1, 8))::BIGINT
                % 100 < 80 THEN 'train'
           WHEN ('0x' || substr(md5('split-' || c.component), 1, 8))::BIGINT
                % 100 < 90 THEN 'val'
           ELSE 'test'
         END AS split
  FROM comp c
)
SELECT split,
       CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM lab JOIN tok USING (doc_id)
GROUP BY split
ORDER BY split
""",
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the content-addressed split
    hash (q_split_manifest's scheme) is taken over each document's
    NEAR-DUP COMPONENT id instead of the document id, so a family of
    near-duplicates can never straddle train and test -- the split
    form of decontamination (splitting by doc id leaks every near-dup
    pair whose members hash to different splits). Composes
    jaccard_pairs -> connected_components -> component-keyed hash
    split; reports per split the cluster/doc/token counts. At scale
    the component id already exists from the dedup pass, so
    leakage-safety costs one extra map-side hash.

    DEFAULT PATH (r8, VERDICT r7 #3): the components come from the
    auto-build-or-reuse materialized bucketed table
    (plans/materialized.dedup_components_frame) -- the CC fixpoint that
    was 176 s of every call at 30x is paid once at dedup time, after
    which this query is a component scan + map-side hash + token join.
    ``SPARK_GRAFT_SERVING=off`` forces the original in-query build
    (row-identical, test-pinned).
    """
    from .materialized import dedup_components_frame

    comp = dedup_components_frame(spark, sf_dir)
    return _split_summary(spark, sf_dir, comp)


def _split_summary(
    spark: SparkSession, sf_dir: str, comp: DataFrame
) -> DataFrame:
    """Component-keyed 80/10/10 hash split + per-split rollup, shared
    by the default and explicitly-bucketed leakage-safe split forms.
    ``comp``: (doc_id, component)."""
    from ..functions.text import tokens as _tokens

    d = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-"), F.col("component"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    lab = comp.select(
        "doc_id",
        "component",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    tok = d.select("doc_id", F.size(_tokens("text")).cast("long").alias("n_tokens"))
    return (
        lab.join(tok, "doc_id")
        .groupBy("split")
        .agg(
            F.countDistinct("component").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("split")
    )


@query(
    "q_split_leakage_bucketed",
    # same output and (closure) oracle as q_split_leakage_safe
    tags=("dedup", "sampling", "graph", "scale", "closure_oracle"),
    oracle=REGISTRY["q_split_leakage_safe"].oracle,
)
def q_split_leakage_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_split_leakage_safe`` in its STEADY-STATE DEPLOYMENT posture:
    the near-dup components live on disk as a bucketed table
    (``materialized.dedup_components_frame``), so the iterative CC
    fixpoint -- at 30x, ~all of the 176 s in-query wall -- is dedup-time
    work, not split-time work. Row-identical to q_split_leakage_safe (same
    oracle; also pinned by tests/test_featureprep.py); the query
    itself is one component scan + map-side split hash + token join +
    3-row aggregate. Measured at 30x: 206 s one-time build, then
    0.98 s steady vs 176 s per call for the in-query build
    (BENCH_NOTES r7). First use per (sf_dir, documents fingerprint)
    auto-materializes -- a deployment runs the build at dedup time.

    Since r8 the materialized table is also q_split_leakage_safe's
    DEFAULT source (VERDICT r7 #3; plans/materialized.py). This
    spelling stays registered as the ALWAYS-materialized form -- it
    ignores SPARK_GRAFT_SERVING=off, so the posture remains
    individually addressable and gate-able while the default form can
    be flipped back to the in-query build for comparison.
    """
    from .materialized import dedup_components_frame

    comp = dedup_components_frame(spark, sf_dir, force=True)
    return _split_summary(spark, sf_dir, comp)
