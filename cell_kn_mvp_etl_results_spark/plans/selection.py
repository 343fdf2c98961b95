"""Data-selection query plans: deterministic weighted sampling, DSIR
importance resampling, cross-source MinHash overlap, and community
modularity -- the selection/evaluation layer of the training-data
pipeline (which documents enter the mix, and how good the structure
discovered by the other operators is)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..serving import at_least, serve
from ..sources.readers import read_table
from .registry import query

_DSIR_BUCKETS = 1024


@query(
    "q_weighted_sample",
    tags=("sampling", "selection"),
    oracle="""
SELECT doc_id AS id,
       greatest(n_chars, 1) AS weight,
       CAST(floor((('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT)
                  / greatest(n_chars, 1)) AS BIGINT) AS priority
FROM documents
ORDER BY priority, id
LIMIT 100
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased sampling without replacement
    (operators/selection.weighted_sample): 100 documents drawn with
    length-monotone inclusion bias (weight = n_chars; not exact PPS --
    see the operator docstring) under
    hash-clock priorities -- the reproducible replacement for
    ``df.sample`` in curation pipelines. Both engines compute
    priority = floor(hash48 / weight) with one correctly-rounded IEEE
    division of exact integers, so the winner set is bit-identical.
    Plan: projection + TakeOrderedAndProject, no corpus shuffle.
    """
    from ..operators.selection import weighted_sample

    d = read_table(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", k=100)


@query(
    "q_dsir_select",
    tags=("sampling", "selection", "textanalysis"),
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, source = 'src0' AS is_target,
         (('0x' || substr(md5(tok), 1, 12))::BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, source,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              t -> t != '')) AS tok
    FROM documents
  )
),
prof AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t_n,
         CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS r_n
  FROM toks GROUP BY bucket
),
bscore AS (
  SELECT bucket,
         CAST(floor(log2(t_n + 1)) AS BIGINT)
           - CAST(floor(log2(r_n + 1)) AS BIGINT) AS s
  FROM prof
),
tot AS (
  SELECT CAST(floor(log2(sum(r_n) + {_DSIR_BUCKETS})) AS BIGINT)
           - CAST(floor(log2(sum(t_n) + {_DSIR_BUCKETS})) AS BIGINT) AS norm
  FROM prof
),
perdoc AS (
  SELECT t.doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(b.s) AS BIGINT) AS s_sum
  FROM toks t JOIN bscore b USING (bucket)
  WHERE NOT t.is_target
  GROUP BY t.doc_id
)
SELECT id, n_tokens,
       CAST(s_sum + n_tokens * tot.norm AS BIGINT) AS weight
FROM perdoc CROSS JOIN tot
ORDER BY weight DESC, id
LIMIT 100
""",
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/selection.dsir_importance;
    Xie et al. 2023): the 100 out-of-domain documents whose
    hashed-unigram profiles look most like the src0 target domain,
    scored by integer floor-log2 likelihood ratios over 1024 hash
    buckets. The bucket model is broadcast-sized regardless of corpus
    size; the corpus pays one tokenize pass + one doc-keyed aggregate.
    """
    from ..operators.selection import dsir_importance

    d = read_table(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", F.col("source") == "src0", n_buckets=_DSIR_BUCKETS
    )
    return w.orderBy(F.desc("weight"), "id").limit(100)


def _source_overlap_oracle(num_perm: int = 32) -> str:
    perms_values = ",\n    ".join(
        f"({i}, {a}, {b})" for i, a, b in dd.minhash_perms(num_perm)
    )
    p = dd.MINHASH_P
    return rf"""
WITH toks AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, generate_series(1, 2000) g(i)
  WHERE i <= len(t) - 2
),
perms(i, a, b) AS (VALUES
    {perms_values}
),
hashed AS (
  SELECT sh.source, perms.i,
         (perms.a * (('0x' || substr(md5(sh.shingle), 1, 12))::BIGINT % {p})
          + perms.b) % {p} AS h
  FROM sh, perms
),
sig AS (SELECT source, i, min(h) AS h FROM hashed GROUP BY source, i)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) / {float(num_perm)}
         AS est_jaccard
FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
GROUP BY 1, 2
ORDER BY src_a, src_b
"""


@query(
    "q_source_overlap",
    tags=("dedup", "profiling"),
    oracle=_source_overlap_oracle(),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix
    (operators/selection.group_minhash_overlap): estimated Jaccard
    similarity between every pair of sources' shingle sets from
    group-level MinHash signatures -- "which crawls duplicate each
    other" as a |sources|^2-bounded aggregate, the corpus is never
    self-joined. Same 32-permutation constants as q_dedup_minhash_lsh.
    """
    from ..operators.selection import (
        group_minhash_overlap,
        group_minhash_signatures,
    )
    d = read_table(spark, sf_dir, "documents")
    # The pinned |sources|-row group-signature frame is a serving-store
    # entry (ADVICE r12): the operator's own per-call eager checkpoint
    # was never tracked, so every rebuild leaked a block for the
    # application lifetime and even explain-only plan builds ran the
    # corpus scan. One persisted frame per corpus fingerprint, filled
    # eagerly; persist (not localCheckpoint) so that unpersisting a
    # displaced entry frees its blocks.
    def build() -> DataFrame:
        gsig = group_minhash_signatures(d, "source", "text", num_perm=32)
        gsig.persist().count()
        return gsig

    gsig = serve(
        spark, sf_dir, "source_overlap.gsig", ("documents",), build,
        DataFrame.unpersist,
    )
    # |sources|^2-row result: 1-partition sort instead of a
    # range-sampled global sort (the khop r8 precedent -- sampling
    # re-submits the child per run, and this child is corpus-sized).
    return (
        group_minhash_overlap(d, "source", "text", num_perm=32, gsig=gsig)
        .repartition(1)
        .sortWithinPartitions("src_a", "src_b")
    )


def _modularity_oracle(iters: int = 2) -> str:
    """The q_communities unrolled-LPA oracle body with a modularity
    tail: score the labels the CTE chain itself derives, so the gate
    covers detector + metric end to end."""
    from .extended2 import _lpa_oracle

    lpa = _lpa_oracle(iters=iters)
    head, _, tail = lpa.rpartition("SELECT id, label FROM")
    final = tail.split("ORDER BY")[0].strip()  # e.g. "l2"
    assert head and final.startswith("l"), "unexpected LPA oracle shape"
    body = head.rstrip()  # the full WITH chain, ending at the last CTE's ')'
    # Materialize every multiply-referenced CTE in the copied chain
    # (sim feeds both sides of the pair self-join; ed feeds each LPA
    # round plus the degree count; each l{t} feeds the next round
    # twice and the final one feeds three metric joins): DuckDB
    # re-inlines shared CTEs, and the modularity tail's extra
    # references compound that into a re-derivation blowup -- the
    # un-materialized form died with a spill IOException on the 30x
    # corpus where q_communities' single-reference tail runs in ~25 s.
    for cte in ["sim", "e", "ed"] + [f"l{t}" for t in range(iters + 1)]:
        body = body.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return f"""{body},
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY 1),
dc AS (
  SELECT l.label, CAST(sum(d.d) AS BIGINT) AS d_sum
  FROM deg d JOIN {final} l USING (id) GROUP BY 1
),
ec AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
  FROM e
  JOIN {final} la ON la.id = e.u
  JOIN {final} lb ON lb.id = e.v
  WHERE la.label = lb.label
  GROUP BY 1
),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices FROM {final}),
per AS (
  SELECT mm.m, COALESCE(ec.e_in, 0) AS e_in,
         4 * mm.m * COALESCE(ec.e_in, 0) - dc.d_sum * dc.d_sum AS s_c
  FROM dc LEFT JOIN ec USING (label) CROSS JOIN mm
)
SELECT m, nv.n_vertices, CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(e_in) AS BIGINT) AS intra_edges,
       CAST(floor(1000000.0 * CAST(sum(s_c) AS DOUBLE)
                  / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
            AS BIGINT) AS q_ppm
FROM per CROSS JOIN nv
GROUP BY m, nv.n_vertices
"""


@query(
    "q_modularity",
    tags=("graph", "dedup"),
    oracle=_modularity_oracle(iters=2),
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the SimHash
    radius-1 near-dup graph (operators/graph.modularity): one summary
    row (m, n_vertices, n_communities, intra_edges, q_ppm) scoring how
    community-like the q_communities partition actually is -- the
    evaluation half of community detection. The oracle re-derives the
    labels with the same unrolled-CTE LPA chain and scores them
    identically, so detector and metric gate together.
    """
    from ..operators import graph as gr
    from .materialized import (
        community_labels_frame,
        community_stats_frame,
        pair_degrees_frame,
        simhash_pairs_frame,
    )

    # The metric reads three materialized rollups -- the LPA labels,
    # the |V|-sized degrees and the per-community intra-edge counts --
    # and no per-edge data: steady calls score a persisted partition
    # instead of re-running the 2 LPA rounds or exploding the 89.6M-edge
    # list at the 30x corpus. Under SPARK_GRAFT_SERVING=off the inline
    # pair regeneration is persisted and passed into the inline LPA,
    # degree and stats builds so all three share one computation.
    if at_least("derived"):
        # Fully-materialized metric path: labels, degrees, and the
        # intra-community rollup are all snapshot tables, so the pair
        # table is never touched -- don't even resolve it (its
        # schema-recovery registration was ~3 s of the 30x cold).
        pairs = None
    else:
        # Inline mode: ONE persisted pair regeneration feeds the LPA
        # build, the degree build and the stats build. A store entry,
        # so the next call releases this call's copy.
        pairs = serve(
            spark,
            sf_dir,
            "modularity.pairs",
            ("documents",),
            lambda: simhash_pairs_frame(spark, sf_dir).persist(),
            DataFrame.unpersist,
        )
    labels = community_labels_frame(spark, sf_dir, iters=2, pairs=pairs)
    degrees = pair_degrees_frame(spark, sf_dir, pairs=pairs)
    intra = community_stats_frame(
        spark, sf_dir, iters=2, pairs=pairs, labels=labels
    )
    # With degrees and intra both supplied the metric reads no per-edge
    # data, so the pair frame is not passed.
    return gr.modularity(None, labels, degrees=degrees, intra=intra)


def _mmr_oracle(n_candidates: int = 16, k: int = 8) -> str:
    """Unrolled greedy-MMR CTE twin of operators/selection.mmr_rerank:
    one (score, argmax) CTE pair per selection step. Every similarity
    is the package's quantized fixed-IEEE cosine, and each step's
    mmr = rel - max(sim) is one double subtraction -- the exact op
    shape of the Spark/driver implementation, so picks and scores are
    bit-identical.

    The reused CTEs (cand, pair, every pick) are AS MATERIALIZED:
    DuckDB inlines multiply-referenced CTEs by default, and the
    pick-chain references compound -- the un-materialized form
    re-evaluates the embedding scan exponentially in k (measured DNF
    >240 s at sf0.001 vs 0.07 s materialized)."""
    steps = []
    picks = ["p1"]
    for t in range(2, k + 1):
        sel = " UNION ALL ".join(f"SELECT id FROM {p}" for p in picks)
        steps.append(
            f"""s{t} AS (
  SELECT c.id, c.rel, c.rel - max(p.sim) AS mmr
  FROM cand c
  JOIN pair p ON p.ia = c.id AND p.ib IN ({sel})
  WHERE c.id NOT IN ({sel})
  GROUP BY c.id, c.rel
),
p{t} AS MATERIALIZED (
  SELECT CAST({t} AS BIGINT) AS rank, id, rel, mmr
  FROM s{t} ORDER BY mmr DESC, id LIMIT 1
)"""
        )
        picks.append(f"p{t}")
    chain = ",\n".join(steps)
    allp = " UNION ALL ".join(f"SELECT * FROM {p}" for p in picks)
    return f"""
WITH qv AS (
  SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS v
  FROM embeddings WHERE vec_id = 0
),
cv AS (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS v
  FROM embeddings WHERE vec_id <> 0
),
cand AS MATERIALIZED (
  SELECT cv.vec_id AS id, cv.v,
         list_dot_product(qv.v, cv.v)
           / sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
           AS rel
  FROM cv, qv
  ORDER BY rel DESC, id LIMIT {n_candidates}
),
pair AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib,
         list_dot_product(a.v, b.v)
           / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
           AS sim
  FROM cand a JOIN cand b ON a.id <> b.id
),
p1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS rank, id, rel, rel AS mmr
  FROM cand ORDER BY rel DESC, id LIMIT 1
),
{chain}
SELECT rank, id, rel, mmr FROM ({allp}) ORDER BY rank
"""


@query(
    "q_mmr_rerank",
    tags=("similarity", "selection"),
    oracle=_mmr_oracle(n_candidates=16, k=8),
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (operators/selection.mmr_rerank):
    8 results picked greedily from the 16 nearest neighbours of query
    vector 0 by relevance-minus-redundancy -- the diversification step
    after ANN retrieval. Spark runs the distributed passes (corpus
    retrieval + the 16x16 candidate similarity matrix); the greedy
    argmax loop is a stated bounded driver sync, gated against an
    unrolled-CTE oracle.
    """
    from ..operators.selection import mmr_rerank

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    c = e.filter(F.col("vec_id") != 0)
    return mmr_rerank(c, q, "vec_id", "embedding", n_candidates=16, k=8)


@query(
    "q_ingest_quota",
    tags=("streaming", "sampling"),
    oracle="""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         -- CAST: DuckDB windowed sum yields HUGEINT (the r4 artifact
         -- class tests/test_oracle_types.py guards against)
         CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_cents
  FROM events
)
SELECT event_id, user_id, cents, cum_cents
FROM ev WHERE cum_cents <= 10000
ORDER BY user_id, cum_cents, event_id
""",
)
def q_ingest_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend-quota admission
    (streaming/stateful.quota_admitted_stream, batch form): events
    admitted in (ts, event_id) order while the user's prefix spend
    stays within 10000 integer cents -- budget enforcement at ingest.
    The same function is the applyInPandasWithState streaming twin
    (state: one i64 per user), pinned bit-identical to this batch
    plan by the availableNow e2e test; the batch form is one window
    cumsum pass, shuffling once on the quota key.
    """
    from ..streaming.stateful import quota_admitted_stream

    e = read_table(spark, sf_dir, "events")
    return quota_admitted_stream(e, budget_cents=10000).orderBy(
        "user_id", "cum_cents", "event_id"
    )


def _jl_oracle(
    dim_in: int = 64,
    dim_out: int = 32,
    n_candidates: int = 128,
    k: int = 5,
    n_queries: int = 3,
) -> str:
    """DuckDB twin of operators/similarity.jl_topk: identical +-1 sign
    literals (jl_signs), exact integer projection/distances, the same
    (jl_dist, cand_id) candidate cut and fixed-IEEE cosine rerank."""
    from ..operators.similarity import jl_signs

    signs = jl_signs(dim_in, dim_out)

    def lits(j: int) -> str:
        return "[" + ", ".join(
            "1.0" if s > 0 else "-1.0" for s in signs[j]
        ) + "]"

    def projections(alias: str) -> str:
        return ",\n         ".join(
            f"list_dot_product({alias}.v, {lits(j)}) AS p{j}"
            for j in range(dim_out)
        )

    d16 = " + ".join(
        f"(q.p{j} - c.p{j}) * (q.p{j} - c.p{j})" for j in range(dim_out)
    )
    return f"""
WITH qv AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS v
  FROM embeddings WHERE vec_id < {n_queries}
),
cv AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS v
  FROM embeddings
),
qp AS MATERIALIZED (
  SELECT q.vec_id, q.v, list_dot_product(q.v, q.v) AS norm,
         {projections('q')}
  FROM qv q
),
cp AS MATERIALIZED (
  SELECT c.vec_id, c.v, list_dot_product(c.v, c.v) AS norm,
         {projections('c')}
  FROM cv c
),
cand AS MATERIALIZED (
  SELECT * FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           q.v AS q_vec, c.v AS c_vec, q.norm AS q_norm, c.norm AS c_norm,
           {d16} AS jl_dist,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {d16}, c.vec_id
           ) AS jl_rank
    FROM qp q JOIN cp c ON q.vec_id <> c.vec_id
  ) t WHERE jl_rank <= {n_candidates}
)
SELECT q_id, cand_id, rank, score
FROM (
  SELECT q_id, cand_id,
         list_dot_product(q_vec, c_vec) / sqrt(q_norm * c_norm) AS score,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY list_dot_product(q_vec, c_vec) / sqrt(q_norm * c_norm) DESC,
                    cand_id
         ) AS rank
  FROM cand
) t
WHERE rank <= {k}
ORDER BY q_id, rank
"""


@query(
    "q_jl_topk",
    tags=("similarity",),
    oracle=_jl_oracle(),
)
def q_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-prefiltered ANN (operators/similarity.jl_topk): exact cosine
    top-5 reranked from the 128 candidates nearest in a deterministic
    32-dim +-1 random projection (Achlioptas 2003) -- the training-free
    scale path between brute force and IVF: 2x cheaper candidate math
    at 64->32 dims (and the squared-L2 form needs no per-pair sqrt or
    norms), map-side projection, exact rerank bounded by 128
    rows/query. Sign matrix shared as literals with the oracle (the
    minhash_perms discipline). Params sit at measured recall@5 = 0.84
    on this embedding table (tests/test_selection.py pins >= 0.5);
    n_candidates is the recall/cost dial and is held fixed as the
    corpus grows -- the prune ratio improves with scale while recall
    decays, the standard JL trade-off.
    """
    from ..operators.similarity import jl_topk_arrow

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    return jl_topk_arrow(e, q, dim_out=32, n_candidates=128, k=5).orderBy(
        "q_id", "rank"
    )


def _degree_hist_oracle() -> str:
    """SimHash radius-1 pair graph -> exact log2-binned degree
    histogram; shares the _SIMHASH_BODY CTEs with q_communities."""
    from .extended2 import _SIMHASH_BODY

    return f"""
WITH {_SIMHASH_BODY},
e AS (
  SELECT a.id AS u, b.id AS v
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
),
ed AS (
  SELECT DISTINCT src, dst FROM (
    SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e
  ) WHERE src <> dst
),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY 1)
SELECT CAST(floor(log2(d)) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(min(d) AS BIGINT) AS min_deg,
       CAST(max(d) AS BIGINT) AS max_deg
FROM deg
GROUP BY 1
ORDER BY bin
"""


@query(
    "q_degree_hist",
    tags=("graph", "profiling"),
    oracle=_degree_hist_oracle(),
)
def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree distribution of the SimHash radius-1
    near-dup graph -- the one-glance skew profile that tells you
    whether the pair graph has celebrity vertices BEFORE you run the
    iterative operators on it (the graph-side analogue of
    q_key_skew). Exact integer bins (floor-log2 doctrine); one degree
    count + one |bins|-sized aggregate past the pair generation.
    """
    from .materialized import simhash_pairs_frame

    # r8 (VERDICT r7 #4): pair graph served from the shared auto-
    # materialized bucketed table (built once for every graph
    # consumer); SPARK_GRAFT_SERVING=off regenerates inline. The 30x
    # steady wall was 57 s, ~55 s of it the banded pair generation.
    pairs = simhash_pairs_frame(spark, sf_dir)
    # simhash_pairs returns DISTINCT pairs with id_a < id_b strictly,
    # so the doubled edge list is already duplicate-free and loop-free:
    # no dropDuplicates (at 30x that was a redundant global distinct
    # over the 2x89.6M-row undirected set: 78 s steady with it, 57 s
    # without, identical output; the remaining wall is the banded pair
    # generation itself on the 97%-near-dup corpus).
    und = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.groupBy(F.floor(F.log2("d")).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        .orderBy("bin")
    )


def _mutual_knn_oracle(k: int = 5, n_queries: int = 50) -> str:
    """Mutual-kNN pairs over the quantized cosine: (a, b) kept iff b
    is in a's top-k AND a is in b's top-k, restricted to the first
    ``n_queries`` vectors so the oracle stays candidate-bounded."""
    return f"""
WITH vv AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS v
  FROM embeddings WHERE vec_id < {n_queries}
),
scored AS MATERIALIZED (
  SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
         list_dot_product(a.v, b.v)
           / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
           AS score,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_dot_product(a.v, b.v)
                      / sqrt(list_dot_product(a.v, a.v)
                             * list_dot_product(b.v, b.v)) DESC,
                    b.vec_id
         ) AS rank
  FROM vv a JOIN vv b ON a.vec_id <> b.vec_id
),
topk AS MATERIALIZED (
  SELECT q_id, cand_id, score FROM scored WHERE rank <= {k}
)
SELECT f.q_id AS id_a, f.cand_id AS id_b, f.score
FROM topk f JOIN topk r ON r.q_id = f.cand_id AND r.cand_id = f.q_id
WHERE f.q_id < f.cand_id
ORDER BY id_a, id_b
"""


@query(
    "q_mutual_knn",
    tags=("similarity", "dedup"),
    oracle=_mutual_knn_oracle(),
)
def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbour pairs (reciprocal top-5 cosine over
    the first 50 vectors): the bidirectional filter that turns a kNN
    graph into high-precision duplicate/translation candidates --
    one-directional neighbours (a hub vector near everything) drop
    out. Composes the existing top-k machinery with one equi-join of
    the top-k edge list against its own transpose (k x n rows, never
    the corpus); the filter is the standard margin-free variant of
    Artetxe & Schwenk's margin mutual-NN mining.
    """
    from ..operators.similarity import cosine_topk

    e = read_table(spark, sf_dir, "embeddings")
    sub = e.filter(F.col("vec_id") < 50)
    tk = cosine_topk(sub, sub, k=5).select("q_id", "cand_id", "score")
    f = tk
    r = tk.select(
        F.col("q_id").alias("cand_id"), F.col("cand_id").alias("q_id")
    )
    return (
        f.join(r, ["q_id", "cand_id"], "left_semi")
        .filter(F.col("q_id") < F.col("cand_id"))
        .select(
            F.col("q_id").alias("id_a"),
            F.col("cand_id").alias("id_b"),
            "score",
        )
        .orderBy("id_a", "id_b")
    )
