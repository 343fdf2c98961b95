"""Extended plans: search scoring (T6 query side), embedding near-dup,
bucketed ANN (the deterministic scale path), BNode reification against a
relational oracle, and the graph edge pass. Registered alongside the
core plans via plans/__init__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import rdf
from ..operators.graph import graph_from_tuples
from ..operators.search import build_gram_index
from ..operators.similarity import _quantized, dot
from ..sources.readers import read_table
from .graph_queries import _TUPLES_ORACLE_BODY, order_tuples
from .registry import query

# Largest corpus the all-pairs cosine path may collect into a driver
# matrix (~100 MB at 64 float64 dims). Above this, q_dedup_embedding
# refuses with a pointer to the candidate-generator path (VERDICT r12
# #6) instead of attempting a driver-side matrix that cannot scale.
ALL_PAIRS_DRIVER_CAP = 200_000

# ---------------------------------------------------------------------------
# T6 query side: gram-match search scoring.
# ---------------------------------------------------------------------------

_SEARCH_TERM = "spring green"


def _grams(s: str, n: int = 3) -> list[str]:
    s = s.lower()
    return sorted({s[i : i + n] for i in range(max(0, len(s) - n + 1))})


def _search_oracle() -> str:
    gram_list = ", ".join(f"'{g}'" for g in _grams(_SEARCH_TERM))
    return f"""
WITH idx AS (
  SELECT DISTINCT p_partkey, substr(lower(p_name), i, 3) AS gram
  FROM part, generate_series(1, 500) g(i)
  WHERE i <= len(p_name) - 2
),
hits AS (
  SELECT p_partkey, count(*) AS score
  FROM idx WHERE gram IN ({gram_list})
  GROUP BY p_partkey
)
SELECT p_partkey, score
FROM hits
ORDER BY score DESC, p_partkey
LIMIT 10
"""


@query(
    "q_search_grams",
    tags=("text", "T6"),
    oracle=_search_oracle(),
)
def q_search_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 search: ngram-view lookup as a gram-match join with
    shared-gram scoring -- the ArangoSearch view's first-pass ranking
    (``ArangoDbUtilities.py:209-358``). The gram IN-list pushes into the
    index scan."""
    p = read_table(spark, sf_dir, "part")
    index = build_gram_index(p, ["p_partkey"], "p_name", 3)
    grams = _grams(_SEARCH_TERM)
    return (
        index.filter(F.col("gram").isin(*grams))
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("score"))
        .orderBy(F.desc("score"), "p_partkey")
        .limit(10)
    )


_PREFIX_QUERY = "smal giz"  # type-ahead: "small gizmo" partially typed


@query(
    "q_search_prefix",
    tags=("text", "T6"),
    oracle=f"""
WITH toks AS (
  SELECT p_partkey, unnest(string_split(lower(p_name), ' ')) AS tok FROM part
),
grams AS (
  SELECT DISTINCT p_partkey, substr(tok, 1, l) AS gram
  FROM toks, generate_series(3, 12) gs(l)
  WHERE len(tok) >= 3 AND l <= len(tok)
),
hits AS (
  SELECT p_partkey, count(*) AS score
  FROM grams
  WHERE gram IN ({", ".join(f"'{t}'" for t in sorted(_PREFIX_QUERY.split()))})
  GROUP BY p_partkey
)
SELECT p_partkey, score
FROM hits
ORDER BY score DESC, p_partkey
LIMIT 10
""",
)
def q_search_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 type-ahead: edge-ngram(3,12) prefix index + STARTS_WITH-style
    query, the ArangoSearch ``text_en_no_stem`` edge-ngram analyzer the
    reference UI search relies on (``ArangoDbUtilities.py:235-250``).
    Each query token matches as an exact gram; score = matched tokens.
    Index is one explode + dedup; the gram IN-list pushes into the
    scan."""
    from ..operators.search import build_gram_index, search_prefix

    p = read_table(spark, sf_dir, "part")
    index = build_gram_index(p, ["p_partkey"], "p_name", 3, analyzer="edge")
    return search_prefix(index, ["p_partkey"], _PREFIX_QUERY, k=10)


# ---------------------------------------------------------------------------
# Embedding near-dup + deterministic bucketed ANN.
# ---------------------------------------------------------------------------


@query(
    "q_dedup_embedding",
    tags=("dedup", "similarity"),
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0))
           AS q
  FROM embeddings
),
n AS (SELECT vec_id, list_dot_product(q, q) AS norm, q FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.q, b.q) / sqrt(a.norm * b.norm) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.q, b.q) / sqrt(a.norm * b.norm) >= 0.35
ORDER BY id_a, id_b
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.35;
    the synthetic corpus has no true near-dups, so the threshold sits in
    the top tail of the actual cosine distribution). All-pairs at
    this corpus size; at scale the same scoring runs behind the
    LSH/bucket candidate generator (q_ann_bucket) instead of the cross
    join. Quantized-integer dots -> engine-exact scores.
    """
    # r12: scored with the Arrow batch matmul instead of the
    # interpreted higher-order-function theta join (guide §4.2) — the
    # scorer is bit-identical (exact-integer dots in float64, same
    # correctly-rounded norm product), measured ~3x on the noop-
    # isolated computation; the corpus matrix is prepared once per
    # fingerprint (plans/models.py, the cosine-prep doctrine).
    from ..operators.similarity import cosine_threshold_pairs_arrow
    from .models import cosine_prepared_queries

    e = read_table(spark, sf_dir, "embeddings")
    # Hard driver-side cap (VERDICT r12 #6): the all-pairs matrix is
    # the whole corpus collected to the driver; past ~200k vectors
    # (about 100 MB at 64 float64 dims) that is a driver OOM, and the
    # right plan is the candidate-generator path (q_ann_bucket), not a
    # bigger matrix. prepare_cosine_queries enforces the cap with a
    # limit() so the driver never holds more than cap + 1 rows;
    # tests/test_clustering.py pins the refusal.
    prepared = cosine_prepared_queries(
        spark, sf_dir, max_id=1 << 62, quantize=4,
        max_rows=ALL_PAIRS_DRIVER_CAP,
    )
    return cosine_threshold_pairs_arrow(
        e, "vec_id", "embedding", threshold=0.35, quantize=4,
        prepared=prepared,
    ).orderBy("id_a", "id_b")


@query(
    "q_ann_bucket",
    tags=("similarity",),
    oracle="""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS q
  FROM embeddings
),
b AS (
  SELECT vec_id, q, list_dot_product(q, q) AS norm,
         (CASE WHEN q[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN q[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN q[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN q[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN q[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN q[6] > 0 THEN 32 ELSE 0 END) AS bucket
  FROM v
),
scored AS (
  SELECT qs.vec_id AS q_id, c.vec_id AS cand_id,
         list_dot_product(qs.q, c.q) / sqrt(qs.norm * c.norm) AS score
  FROM b qs JOIN b c ON qs.bucket = c.bucket AND qs.vec_id != c.vec_id
  WHERE qs.vec_id < 10
)
SELECT q_id, cand_id, rank, score
FROM (
  SELECT q_id, cand_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rank
  FROM scored
) t
WHERE rank <= 3
ORDER BY q_id, rank
""",
)
def q_ann_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN (the 100 TB path): candidates must share a
    sign-pattern bucket over the first 6 components (a deterministic,
    oracle-checkable stand-in for hyperplane LSH); only candidates are
    scored. The candidate join shuffles on the bucket key -- no cross
    join anywhere. Recall < 1 by construction; raise it with more/fewer
    bits or multi-probe.
    """
    e = read_table(spark, sf_dir, "embeddings")
    v = e.select(
        F.col("vec_id").alias("id"), _quantized(F.col("embedding"), 4).alias("q")
    )
    bucket = None
    for j in range(6):
        term = F.when(F.element_at("q", j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    b = v.select("id", "q", dot(F.col("q"), F.col("q")).alias("norm"), bucket.alias("bucket"))
    qs = (
        b.filter(F.col("id") < 10)
        .select(
            F.col("id").alias("q_id"),
            F.col("q").alias("qq"),
            F.col("norm").alias("qn"),
            "bucket",
        )
    )
    c = b.select(
        F.col("id").alias("cand_id"),
        F.col("q").alias("cq"),
        F.col("norm").alias("cn"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(qs), "bucket")
        .filter(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            (dot(F.col("qq"), F.col("cq")) / F.sqrt(F.col("qn") * F.col("cn"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "cand_id", "rank", "score")
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# T5 reification against a relational oracle.
# ---------------------------------------------------------------------------


@query(
    "q_bnode_reification",
    tags=("graph", "T5"),
    oracle="""
SELECT 'C_' || o_custkey AS s,
       'PLACED' AS p,
       'O_' || o_orderkey AS o,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders
ORDER BY s, o
""",
)
def q_bnode_reification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: OWL-style axiom annotations resolved relationally. The
    builder synthesizes one reification bnode per order (annotatedSource
    = customer, annotatedProperty = PLACED, annotatedTarget = order,
    plus a price literal), runs the generic resolve_bnodes pivot
    (``OntologyParserLoader.py:315-586`` semantics), and emits the
    reconstructed annotation quads. The oracle states the identity the
    round-trip must satisfy.
    """
    o = read_table(spark, sf_dir, "orders")
    bnode = F.concat(F.lit("_:a"), F.col("o_orderkey"))
    cust = F.concat(F.lit("C_"), F.col("o_custkey"))
    okey = F.concat(F.lit("O_"), F.col("o_orderkey"))
    price = F.round(F.col("o_totalprice") * 100).cast("long").cast("string")
    mk = lambda p, obj, lit: F.struct(  # noqa: E731
        bnode.alias("s"), F.lit(p).alias("p"), obj.alias("o"), F.lit(lit).alias("is_literal")
    )
    triples = o.select(
        F.explode(
            F.array(
                mk("owl:annotatedSource", cust, False),
                mk("owl:annotatedProperty", F.lit("PLACED"), False),
                mk("owl:annotatedTarget", okey, False),
                mk("price_cents", price, True),
            )
        ).alias("t")
    ).select("t.s", "t.p", "t.o", "t.is_literal")
    out = rdf.resolve_bnodes(triples)
    return (
        out["annotation_quads"]
        .select(
            "s",
            F.lit("PLACED").alias("p"),
            "o",
            F.col("lit").cast("long").alias("price_cents"),
        )
        .orderBy("s", "o")
    )


# ---------------------------------------------------------------------------
# T7 edge pass.
# ---------------------------------------------------------------------------


@query(
    "q_graph_edges",
    tags=("graph", "T7"),
    oracle=f"""
WITH t AS ({_TUPLES_ORACLE_BODY})
SELECT 'C' AS src_coll, 'O' AS dst_coll, p AS label, count(*) AS n_edges
FROM t
WHERE lit IS NULL AND p = 'PLACED'
GROUP BY p
ORDER BY label
""",
)
def q_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 edge construction pass: URI-object triples -> typed edge
    relation, counted per (src_coll, dst_coll, label)."""
    g = graph_from_tuples(order_tuples(spark, sf_dir))
    return (
        g["edges"]
        .groupBy("src_coll", "dst_coll", "label")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy("label")
    )
