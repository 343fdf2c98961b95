"""More extended plans: SimHash hamming pairs and subword token
estimation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as dd
from ..serving import serve
from ..sources.readers import read_table
from .registry import REGISTRY, query

_SIMHASH_BODY = """
toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN (('0x' || substr(md5(tok), 1, 8))::BIGINT >> j) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM toks, generate_series(0, 31) g(j)
  GROUP BY doc_id, j
),
sim AS (
  SELECT doc_id AS id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
)
"""


@query(
    "q_simhash_pairs",
    tags=("dedup",),
    oracle=f"""
WITH {_SIMHASH_BODY}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sim a JOIN sim b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY id_a, id_b
""",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by hamming distance <= 2
    (the shared-vocabulary corpus makes larger radii unselective:
    ~77k pairs at radius 8 vs ~7.5k at radius 2). Bit-band blocked
    (3 disjoint ~11-bit bands; pigeonhole gives full recall at
    radius 2), so the candidate shuffle is on (band, val) keys --
    never the all-pairs theta join the oracle spells out.

    Plan shape (r12 optimization): the bands self-join references the
    simhash aggregation subtree on BOTH sides, and Catalyst executes
    each reference independently -- an eager per-run localCheckpoint
    of the |docs|-row (id, simhash) relation computes it once (the
    subgraph-extract precedent; nothing survives the run). The sorted
    result takes a 1-partition sort instead of a range-sampled global
    sort (the khop r8 precedent; sampling re-submits a job per run).
    What remains is driver serialization of the DECLARED ~777k-row
    result at sf0.1 -- the same result-pull bound as
    q_tuple_generation, paid symmetrically by the oracle."""
    d = read_table(spark, sf_dir, "documents")
    hashes = dd.simhash(d, "doc_id", "text", bits=32).localCheckpoint(eager=True)
    return (
        dd.simhash_pairs(hashes, max_hamming=2)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def pair_index_upsert_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MAINTENANCE of the near-dup pair graph -- the IVM
    statement for the dedup layer's materialized tables: when a delta
    batch (doc_id % 10 == 0) lands, the NEW radius-1 pairs are exactly
    delta-vs-base plus delta-vs-delta; the base corpus is never
    re-banded, let alone re-paired. The delta's bit-bands are computed
    map-side and probe the persisted base BAND index
    (plans/materialized.simhash_band_index_frame, bucketed on the band
    value); the delta self-join is delta-sized. Union of the two
    candidate sets, per-pair dedup, exact hamming check -- identical by
    pigeonhole-recall to filtering the full corpus pairing down to
    pairs touching the delta. This frame -- (id_a, id_b, hamming,
    kind) -- is the operator-level API: appending it to the
    materialized pair table (plans/materialized.simhash_pairs_frame)
    IS the upsert, a distributed write that never visits the driver
    (measured 6.77 s at the 30x corpus, BENCH_NOTES r8). The
    registered GATE over it is ``q_pair_index_upsert`` below, which
    aggregates -- collecting the raw pair frame was the r8 artifact's
    scale dishonesty (17.59M rows / 104.8 s of driver transfer at 30x,
    VERDICT r8 #4). Work scales with |delta| + |collisions|.
    """
    from .materialized import simhash_band_index_frame

    d = read_table(spark, sf_dir, "documents")
    # The delta's band frame is consumed THREE times below (base probe
    # + both sides of the delta self-join); unpinned, each consumer
    # re-tokenizes and re-shuffles the delta's text through simhash's
    # token aggregation (3 scans + 3 shuffles of |delta| x tokens rows
    # per call, measured as most of the warm per-call cost at 30x).
    # The pinned 2 x |delta| band rows are DATA derived from the
    # corpus, not plan, so they are a serving-store entry per corpus
    # fingerprint like q_cosine_topk's query matrix; filled eagerly,
    # the tiny cached relation also gives the planner exact stats, so
    # both probe joins pick broadcast on their own. Persisted rather
    # than localCheckpointed: unpersisting a displaced entry frees its
    # blocks at once (ADVICE r9), which DataFrame.unpersist cannot do
    # for a checkpoint RDD.
    def build() -> DataFrame:
        delta = d.filter(F.col("doc_id") % 10 == 0)
        h_delta = dd.simhash(delta, "doc_id", "text", bits=32)
        bands = dd.simhash_bands(h_delta, bands=2, bits=32)
        bands.persist().count()
        return bands

    bands_delta = serve(
        spark,
        sf_dir,
        "upsert.delta_bands",
        ("documents",),
        build,
        DataFrame.unpersist,
    )
    base_idx = simhash_band_index_frame(spark, sf_dir, base_mod=10)
    hamming = F.bit_count(F.col("sh_x").bitwiseXOR(F.col("sh_y")))
    dl = bands_delta.select(
        F.col("id").alias("id_x"), F.col("simhash").alias("sh_x"), "band", "val"
    )
    # delta-vs-base: probe the persisted index; normalize id order
    # BEFORE the dedup (hamming is symmetric).
    db = dl.join(
        base_idx.select(
            F.col("id").alias("id_y"), F.col("simhash").alias("sh_y"), "band", "val"
        ),
        ["band", "val"],
    )
    # delta-vs-delta: delta-sized self-join on the band keys.
    dd_pairs = dl.join(
        bands_delta.select(
            F.col("id").alias("id_y"), F.col("simhash").alias("sh_y"), "band", "val"
        ),
        ["band", "val"],
    ).filter(F.col("id_x") < F.col("id_y"))
    # A pair can agree on both bands: keep only its FIRST colliding
    # band (map-side xor-slice filter, operators/dedup.
    # first_band_collision) instead of a 17.6M-row distinct() shuffle
    # -- delta-vs-base and delta-vs-delta are disjoint by construction
    # (one side doc_id % 10 == 0, the other != 0), so the union
    # introduces no cross-set duplicates.
    first = dd.first_band_collision(
        2, 32, F.col("band"), F.col("sh_x").bitwiseXOR(F.col("sh_y"))
    )
    cand = db.filter(first).unionAll(dd_pairs.filter(first)).select(
        F.least("id_x", "id_y").alias("id_a"),
        F.greatest("id_x", "id_y").alias("id_b"),
        hamming.alias("hamming"),
    )
    return (
        cand.filter(F.col("hamming") <= 1)
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.when(
                (F.col("id_a") % 10 == 0) & (F.col("id_b") % 10 == 0),
                "delta-delta",
            )
            .otherwise("delta-base")
            .alias("kind"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "q_pair_index_upsert",
    tags=("dedup", "graph", "scale"),
    oracle=f"""
WITH {_SIMHASH_BODY},
p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
),
up AS (
  SELECT id_a, id_b, hamming,
         CASE WHEN id_a % 10 = 0 AND id_b % 10 = 0 THEN 'delta-delta'
              ELSE 'delta-base' END AS kind
  FROM p
  WHERE id_a % 10 = 0 OR id_b % 10 = 0
)
SELECT kind,
       count(*) AS n_pairs,
       CAST(count(DISTINCT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END)
            AS BIGINT) AS n_delta_docs,
       CAST(sum(hamming) AS BIGINT) AS sum_hamming,
       CAST(sum((id_a * 1000003 + id_b) % 1000000007) % 1000000007
            AS BIGINT) AS pair_checksum
FROM up
GROUP BY kind
ORDER BY kind
""",
)
def q_pair_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-honest REGISTERED gate over the pair-graph IVM
    (``pair_index_upsert_pairs`` above is the full-row operator API
    that the maintenance job appends to the materialized pair table):
    per-kind pair counts, distinct delta docs touched, hamming total,
    and an order-insensitive modular checksum of the (id_a, id_b) pair
    set -- at most 2 rows cross the driver regardless of corpus size,
    while the checksum still pins the exact pair SET (any missing,
    extra, or mislabeled pair moves it). Checksum terms are reduced
    mod 1e9+7 BEFORE the sum, so each term < 2^30 and the running
    bigint sum has ~2^33 pairs of headroom -- exact at every measured
    scale and far past it (DuckDB sums into HUGEINT; the final mod is
    taken on the exact sum on both engines).
    """
    up = pair_index_upsert_pairs(spark, sf_dir)
    delta_doc = F.when(F.col("id_a") % 10 == 0, F.col("id_a")).otherwise(
        F.col("id_b")
    )
    # Two-level aggregation instead of count(DISTINCT delta_doc): a
    # single countDistinct makes Spark Expand-duplicate every pair row
    # (2x 17.6M rows through the aggregate at 30x -- measured as ~5 s
    # of the 8.5 s gate). Grouping by (kind, delta_doc) first reduces
    # map-side to ~|delta| groups, and the outer agg then counts groups
    # -- the same distinct count, no Expand. Equivalence: each pair is
    # assigned exactly ONE delta_doc (delta-delta pairs take id_a, the
    # same CASE the oracle uses), so inner sums partition the pair set.
    # Checksum stays exact: terms are < 1e9+7, inner sums < 2^54, the
    # inner mod bounds group subtotals so the outer sum fits ~2^45.
    term = (F.col("id_a") * F.lit(1000003) + F.col("id_b")) % F.lit(1000000007)
    per_doc = up.groupBy("kind", delta_doc.alias("_ddoc")).agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum("hamming").alias("_h"),
        (F.sum(term) % F.lit(1000000007)).alias("_cs"),
    )
    return (
        per_doc.groupBy("kind")
        .agg(
            F.sum("_c").cast("long").alias("n_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_delta_docs"),
            F.sum("_h").cast("long").alias("sum_hamming"),
            (F.sum("_cs") % F.lit(1000000007)).cast("long").alias("pair_checksum"),
        )
        .orderBy("kind")
    )


@query(
    "q_first_band_pairs",
    tags=("dedup", "scale"),
    oracle=f"""
WITH {_SIMHASH_BODY},
p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         xor(a.simhash, b.simhash) AS x,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
)
SELECT CAST(CASE WHEN x & 65535 = 0 THEN 0 ELSE 1 END AS INTEGER) AS band,
       count(*) AS n_pairs,
       CAST(sum(hamming) AS BIGINT) AS sum_hamming,
       CAST(sum((id_a * 1000003 + id_b) % 1000000007) % 1000000007
            AS BIGINT) AS pair_checksum
FROM p
GROUP BY 1
ORDER BY band
""",
)
def q_first_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered gate over the r9 map-side candidate dedup
    (operators/dedup.first_band_collision): build the FULL-corpus
    radius-1 simhash pair set through a 2-band blocked join where a
    hamming-0 pair collides on BOTH bands, keep only each pair's
    first-colliding-band row (a pure xor-bit-slice filter -- no
    distinct() exchange over the candidate set), and pin the result
    per attributed band: pair count, hamming total, and the modular
    pair-set checksum. The oracle derives the first band analytically
    from the pair's XOR (band 0 = bits 0..15), so a double emission
    (a both-bands pair surviving twice) or a wrong band attribution
    moves a count or checksum. At most 2 rows cross the driver; the
    checksum's per-term mod keeps the long sum exact to ~9e9 pairs.

    Plan shape (r12 optimization): same shared-subtree fix as
    q_simhash_pairs -- the band self-join would execute the simhash
    aggregation twice; the eager per-run localCheckpoint computes it
    once.
    """
    d = read_table(spark, sf_dir, "documents")
    hashes = dd.simhash(d, "doc_id", "text", bits=32).localCheckpoint(eager=True)
    bands = dd.simhash_bands(hashes, bands=2, bits=32)
    a = bands.select(
        F.col("id").alias("id_x"), F.col("simhash").alias("sh_x"), "band", "val"
    )
    b = bands.select(
        F.col("id").alias("id_y"), F.col("simhash").alias("sh_y"), "band", "val"
    )
    xor = F.col("sh_x").bitwiseXOR(F.col("sh_y"))
    first = dd.first_band_collision(2, 32, F.col("band"), xor)
    pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_x") < F.col("id_y"))
        .filter(first)
        .select(
            F.col("band").cast("int").alias("band"),
            F.col("id_x").alias("id_a"),
            F.col("id_y").alias("id_b"),
            F.bit_count(xor).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 1)
    )
    term = (F.col("id_a") * F.lit(1000003) + F.col("id_b")) % F.lit(1000000007)
    return (
        pairs.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("hamming").cast("long").alias("sum_hamming"),
            (F.sum(term) % F.lit(1000000007)).cast("long").alias("pair_checksum"),
        )
        .orderBy("band")
    )


@query(
    "q_token_classes",
    tags=("text",),
    oracle=r"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN regexp_full_match(tok, '[a-z]+') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alpha,
       CAST(sum(CAST(ceil(len(tok) / 4.0) AS BIGINT)) AS BIGINT) AS n_subwords_est,
       CAST(sum(len(tok)) AS BIGINT) AS n_chars
FROM toks
GROUP BY source
ORDER BY source
""",
)
def q_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting surface: whitespace tokens, alpha-class tokens,
    and a BPE-ish subword estimate (ceil(len/4) pieces per token -- the
    standard chars-per-token heuristic) per source. All integer math.
    """
    from ..functions.text import tokens

    d = read_table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tok").rlike(r"^[a-z]+$"), 1).otherwise(0))
            .cast("long")
            .alias("n_alpha"),
            F.sum(F.ceil(F.length("tok") / 4.0).cast("long")).alias("n_subwords_est"),
            F.sum(F.length("tok")).cast("long").alias("n_chars"),
        )
        .orderBy("source")
    )


@query(
    "q_dup_triangles",
    tags=("dedup", "graph"),
    oracle=f"""
WITH {_SIMHASH_BODY},
e AS (
  SELECT a.id AS u, b.id AS v
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
),
deg AS (
  SELECT id, count(*) AS n FROM (
    SELECT u AS id FROM e UNION ALL SELECT v FROM e
  ) GROUP BY id
),
ecap AS (
  SELECT e.u, e.v FROM e
  JOIN deg da ON da.id = e.u
  JOIN deg db ON db.id = e.v
  WHERE da.n <= 100 AND db.n <= 100
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM ecap e1
  JOIN ecap e2 ON e2.u = e1.v
  JOIN ecap e3 ON e3.u = e1.u AND e3.v = e2.v
),
pv AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
FROM pv GROUP BY id ORDER BY id
""",
)
def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the SimHash radius-1 near-dup
    pair graph (operators/graph.triangle_counts): triangle-dense
    components are template families. max_degree=100 drops clique hubs
    (no-op at the sf0.01 gate, whose max degree is 71; required at
    scale, where 3575-degree hubs make the uncapped count explode).
    The Spark plan uses degree-ordered orientation (skew-bounded
    wedges); the oracle is the naive id-ordered three-way join over the
    identically capped edge set -- the triangle set, and so the counts,
    are identical.
    """
    from ..operators import graph as gr

    from .materialized import simhash_pairs_frame

    # r8 (VERDICT r7 #4): the radius-1 pair graph is served from the
    # shared auto-materialized bucketed table -- its banded generation
    # (~114 s at 30x) is paid once across ALL graph consumers.
    # SPARK_GRAFT_SERVING=off regenerates inline (row-identical).
    pairs = simhash_pairs_frame(spark, sf_dir)
    return gr.triangle_counts(
        pairs, "id_a", "id_b", max_degree=100
    ).orderBy("id")


@query(
    "q_clustering_coeff",
    tags=("dedup", "graph"),
    oracle=f"""
WITH {_SIMHASH_BODY},
e AS (
  SELECT a.id AS u, b.id AS v
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
),
pre AS (
  SELECT id, count(*) AS n FROM (
    SELECT u AS id FROM e UNION ALL SELECT v FROM e
  ) GROUP BY id
),
ecap AS (
  SELECT e.u, e.v FROM e
  JOIN pre da ON da.id = e.u
  JOIN pre db ON db.id = e.v
  WHERE da.n <= 100 AND db.n <= 100
),
deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT u AS id FROM ecap UNION ALL SELECT v FROM ecap
  ) GROUP BY id
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM ecap e1
  JOIN ecap e2 ON e2.u = e1.v
  JOIN ecap e3 ON e3.u = e1.u AND e3.v = e2.v
),
tcnt AS (
  SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT a AS id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY id
)
SELECT deg.id,
       CAST(deg.degree AS BIGINT) AS degree,
       CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_triangles,
       CAST((2000 * COALESCE(tcnt.t, 0)) // (deg.degree * (deg.degree - 1))
            AS BIGINT) AS coeff_permille
FROM deg LEFT JOIN tcnt USING (id)
WHERE deg.degree >= 2
ORDER BY id
""",
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document local clustering coefficient over the SimHash
    radius-1 near-dup graph (operators/graph.clustering_coefficient,
    permille): coefficient near 1000 marks template FAMILIES (the
    document's near-dup partners also pair with each other), near 0
    marks boilerplate hubs chaining unrelated documents — the
    per-vertex refinement of q_dup_triangles' corpus signal, over the
    identically capped (max_degree=100) edge set so the two queries
    compose. Degree-ordered wedge orientation in Spark vs the naive
    id-ordered three-way join in the oracle: the triangle set is
    orientation-independent, so counts and coefficients are identical.
    """
    from ..operators import graph as gr

    from .materialized import simhash_pairs_frame

    # r8 (VERDICT r7 #4): the radius-1 pair graph is served from the
    # shared auto-materialized bucketed table -- its banded generation
    # (~114 s at 30x) is paid once across ALL graph consumers.
    # SPARK_GRAFT_SERVING=off regenerates inline (row-identical).
    pairs = simhash_pairs_frame(spark, sf_dir)
    return gr.clustering_coefficient(
        pairs, "id_a", "id_b", max_degree=100
    ).orderBy("id")


def _pagerank_oracle(iters: int = 3, d: int = 850, scale: int = 10**6) -> str:
    """Unrolled fixed-iteration integer PageRank over the SimHash
    radius-1 pair graph -- generated so the constants provably match the
    Spark operator's."""
    base = (1000 - d) * scale
    its = []
    prev = "s0"
    for t in range(1, iters + 1):
        its.append(
            f"""i{t} AS (
  SELECT n.id,
         CAST(({base} + {d} * COALESCE(sum(c.contrib), 0)) // 1000 AS BIGINT)
           AS score
  FROM nodes n LEFT JOIN (
    SELECT ed.dst AS id, s.score // dg.outdeg AS contrib
    FROM ed JOIN {prev} s ON s.id = ed.src JOIN deg dg ON dg.id = ed.src
  ) c ON c.id = n.id
  GROUP BY n.id
)"""
        )
        prev = f"i{t}"
    chain = ",\n".join(its)
    return f"""
WITH {_SIMHASH_BODY},
e AS (
  SELECT a.id AS u, b.id AS v
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
),
ed AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
nodes AS (
  SELECT DISTINCT src AS id FROM ed UNION SELECT DISTINCT dst FROM ed
),
deg AS (SELECT src AS id, count(*) AS outdeg FROM ed GROUP BY src),
s0 AS (SELECT id, CAST({scale} AS BIGINT) AS score FROM nodes),
{chain}
SELECT id, score FROM {prev} ORDER BY id
"""


@query(
    "q_pagerank",
    tags=("graph", "dedup"),
    oracle=_pagerank_oracle(),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration integer-exact PageRank over the SimHash radius-1
    near-dup pair graph (both directions inserted): hub documents of
    template families score high (operators/graph.pagerank_integer).
    Exact integer floor arithmetic keeps the scores bit-identical to
    the unrolled-CTE oracle.
    """
    from ..operators import graph as gr

    from .materialized import simhash_pairs_frame

    # r8 (VERDICT r7 #4): the radius-1 pair graph is served from the
    # shared auto-materialized bucketed table -- its banded generation
    # (~114 s at 30x) is paid once across ALL graph consumers.
    # SPARK_GRAFT_SERVING=off regenerates inline (row-identical).
    pairs = simhash_pairs_frame(spark, sf_dir)
    ed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return gr.pagerank_integer(ed, "src", "dst", iters=3).orderBy("id")


def _kmeans_oracle_ctes(k: int, iters: int, dim: int, quantize: int) -> str:
    """The CTE chain of the unrolled Lloyd oracle WITHOUT a final
    select: q/qf (quantized corpus), c0/cf0 (lowest-id init),
    d{r}/a{r}/u{r}/cf{r} per round, dfin (distances to the FINAL
    centroids cf{iters}). Callers append their own tail (assignment,
    exemplars, IVF probes) over qf / cf{iters} / dfin.
    """
    scale = 10**quantize
    parts = [
        f"""
q AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
           AS qv
  FROM embeddings
),
qf AS (
  SELECT id, g.i - 1 AS pos, qv[g.i] AS val
  FROM q, generate_series(1, {dim}) g(i)
),
c0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, id
  FROM (SELECT id FROM q ORDER BY id LIMIT {k})
),
cf0 AS (
  SELECT c0.cluster, qf.pos, qf.val AS cval FROM c0 JOIN qf USING (id)
)"""
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""
d{r} AS (
  SELECT qf.id, c.cluster,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS d2
  FROM qf JOIN cf{r - 1} c USING (pos)
  GROUP BY qf.id, c.cluster
),
a{r} AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
    FROM d{r}
  ) t WHERE rn = 1
),
u{r} AS (
  SELECT a.cluster, qf.pos,
         CAST(floor(CAST(sum(qf.val) AS DOUBLE) / count(*)) AS BIGINT) AS cval
  FROM a{r} a JOIN qf USING (id)
  GROUP BY a.cluster, qf.pos
),
cf{r} AS (
  SELECT cluster, pos, cval FROM u{r}
  UNION ALL
  SELECT c.cluster, c.pos, c.cval FROM cf{r - 1} c
  WHERE c.cluster NOT IN (SELECT DISTINCT cluster FROM u{r})
)"""
        )
    parts.append(
        f"""
dfin AS (
  SELECT qf.id, c.cluster,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS d2
  FROM qf JOIN cf{iters} c USING (pos)
  GROUP BY qf.id, c.cluster
)"""
    )
    return "WITH" + ",".join(parts)


def _kmeans_oracle(k: int, iters: int, dim: int, quantize: int) -> str:
    """Generate the unrolled-CTE DuckDB twin of
    ``operators/clustering.kmeans_integer`` (the PageRank-oracle
    technique applied to Lloyd iterations): one distance/argmin/update
    CTE triple per round, with empty clusters carrying their previous
    centroid forward, and every arithmetic step the same exact integer
    (or fixed-shape floor(double)) operation the Spark plan runs.
    """
    return (
        _kmeans_oracle_ctes(k, iters, dim, quantize)
        + """
SELECT id AS vec_id, CAST(cluster AS BIGINT) AS cluster, d2
FROM (
  SELECT id, cluster, d2,
         row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
  FROM dfin
) t WHERE rn = 1
ORDER BY vec_id"""
    )


@query(
    "q_semantic_clusters",
    tags=("similarity", "cluster"),
    oracle=_kmeans_oracle(k=8, iters=2, dim=64, quantize=4),
)
def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus: 2 integer-exact
    Lloyd rounds, k=8, deterministic lowest-id init
    (operators/clustering.kmeans_integer). Returns every vector's final
    cluster and exact squared distance -- the partition used for topic
    balancing, cluster-cap sampling, and exemplar distillation.
    Assignment is map-side against centroid literals (no join/shuffle);
    each update is one <= k x dim-group aggregation.

    Serving posture (r12 optimization): the centroid table comes from
    the per-corpus-fingerprint model registry (plans/models.py), so a
    call is ONE assignment projection + sort — training's driver-synced
    corpus jobs run once per corpus, not per call (row-identity vs the
    inline fit pinned in tests/test_models_registry.py; the oracle
    retrains relationally).
    """
    from ..operators.clustering import kmeans_assign
    from .models import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(spark, sf_dir, k=8, iters=2, quantize=4)
    return (
        kmeans_assign(emb, cents, "vec_id", "embedding", quantize=4)
        .select(F.col("id").alias("vec_id"), "cluster", "d2")
        .orderBy("vec_id")
    )


@query(
    "q_cluster_exemplars",
    tags=("similarity", "cluster", "sampling"),
    oracle=f"""
WITH res AS (
{_kmeans_oracle(k=8, iters=2, dim=64, quantize=4)}
)
SELECT CAST(cluster AS BIGINT) AS cluster, vec_id, d2,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT cluster, vec_id, d2,
         row_number() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS rn
  FROM res
) t
WHERE rn <= 3
ORDER BY cluster, rank
""",
)
def q_cluster_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-exemplar selection (dataset distillation / cluster-cap
    sampling): the 3 vectors closest to each semantic cluster's
    centroid, deterministic (d2, id) order -- the curation read of
    ``q_semantic_clusters``. The rank <= 3 predicate compiles to
    Spark's WindowGroupLimit partial top-k, so each map partition
    forwards at most 3 rows per cluster to the window shuffle.
    """
    from pyspark.sql.window import Window

    from ..operators.clustering import kmeans_assign
    from .models import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(spark, sf_dir, k=8, iters=2, quantize=4)
    w = Window.partitionBy("cluster").orderBy("d2", "id")
    return (
        kmeans_assign(emb, cents, "vec_id", "embedding", quantize=4)
        .select("id", "cluster", "d2")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "cluster",
            F.col("id").alias("vec_id"),
            "d2",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("cluster", "rank")
    )


@query(
    "q_ivf_topk",
    tags=("similarity", "cluster"),
    oracle=_kmeans_oracle_ctes(k=8, iters=2, dim=64, quantize=4)
    + """,
asg AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
    FROM dfin
  ) t WHERE rn = 1
),
qd AS (
  SELECT qf.id AS q_id, c.cluster,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS pd2
  FROM qf JOIN cf2 c USING (pos)
  WHERE qf.id < 10
  GROUP BY qf.id, c.cluster
),
probes AS (
  SELECT q_id, cluster FROM (
    SELECT q_id, cluster,
           row_number() OVER (PARTITION BY q_id ORDER BY pd2, cluster) AS rn
    FROM qd
  ) t WHERE rn <= 2
),
v AS (
  SELECT vec_id,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0)) AS q
  FROM embeddings
),
nv AS (SELECT vec_id, q, list_dot_product(q, q) AS norm FROM v),
scored AS (
  SELECT p.q_id, a.id AS cand_id,
         list_dot_product(nq.q, nc.q) / sqrt(nq.norm * nc.norm) AS score
  FROM probes p
  JOIN asg a ON a.cluster = p.cluster AND a.id != p.q_id
  JOIN nv nq ON nq.vec_id = p.q_id
  JOIN nv nc ON nc.vec_id = a.id
)
SELECT q_id, cand_id, rank, score
FROM (
  SELECT q_id, cand_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rank
  FROM scored
) t WHERE rank <= 3
ORDER BY q_id, rank
""",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with a fully oracle-gated model: cells
    are the deterministic integer-Lloyd clusters (kmeans_fit), each of
    the first 10 vectors probes its n_probe=2 nearest cells by exact
    integer centroid distance, and only those cells' members are scored
    (quantized cosine, engine-exact). This is the production ANN layout
    -- per query, scoring touches ~corpus * n_probe / k vectors, and
    the candidate join broadcasts the tiny probe table so the corpus
    never shuffles (assignment is a map-side argmin against centroid
    literals). Recall < 1 by construction; tune with n_probe/k.
    pyspark.ml's seeded KMeans (operators/similarity.ivf_index) is the
    non-gated production alternative; this plan trades init flexibility
    for bit-exact cross-engine verification.
    """
    from ..operators.clustering import _dists_array_sql, kmeans_assign
    from ..operators.similarity import dot
    from .models import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(spark, sf_dir, k=8, iters=2, quantize=4)
    assigned = kmeans_assign(emb, cents, "vec_id", "embedding", quantize=4)
    corpus = assigned.select(
        F.col("id").alias("cand_id"),
        "cluster",
        F.col("q").alias("c_vec"),
        dot(F.col("q"), F.col("q")).alias("c_norm"),
    )
    qv = assigned.filter(F.col("id") < 10).select(
        F.col("id").alias("q_id"),
        F.col("q").alias("q_vec"),
        dot(F.col("q"), F.col("q")).alias("q_norm"),
    )
    cell_d = F.expr(_dists_array_sql("q_vec", cents))
    wp = Window.partitionBy("q_id").orderBy("pd2", "cell")
    probes = (
        qv.select(
            "q_id", "q_vec", "q_norm", F.posexplode(cell_d).alias("cell", "pd2")
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 2)
        .select("q_id", "q_vec", "q_norm", F.col("cell").alias("cluster"))
    )
    scored = (
        corpus.join(F.broadcast(probes), "cluster")
        .filter(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / F.sqrt(F.col("q_norm") * F.col("c_norm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "cand_id", F.col("rank").cast("long").alias("rank"), "score")
        .orderBy("q_id", "rank")
    )


def _lpa_oracle(iters: int = 2) -> str:
    """Unrolled deterministic label propagation over the SimHash
    radius-1 pair graph -- one (count, argmax, update) CTE triple per
    round, generated so the rounds provably match the Spark operator's
    (the _pagerank_oracle technique)."""
    its = []
    prev = "l0"
    for t in range(1, iters + 1):
        its.append(
            f"""n{t} AS (
  SELECT u.src AS id, l.label, count(*) AS n
  FROM ed u JOIN {prev} l ON l.id = u.dst
  GROUP BY 1, 2
),
b{t} AS (
  SELECT id, label AS new_label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS rn
    FROM n{t}
  ) t WHERE rn = 1
),
l{t} AS (
  SELECT l.id, COALESCE(b.new_label, l.label) AS label
  FROM {prev} l LEFT JOIN b{t} b USING (id)
)"""
        )
        prev = f"l{t}"
    chain = ",\n".join(its)
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
nodes AS (SELECT DISTINCT src AS id FROM ed),
l0 AS (SELECT id, id AS label FROM nodes),
{chain}
SELECT id, label FROM {prev} ORDER BY id
"""


@query(
    "q_communities",
    tags=("graph", "dedup"),
    oracle=_lpa_oracle(iters=2),
)
def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities over the SimHash
    radius-1 near-dup pair graph (operators/graph.label_propagation,
    2 synchronous rounds): splits the near-dup graph into locally dense
    template families -- finer than connected components (which unify
    everything reachable) and complementary to PageRank's hub scores.
    Exact counts + total (count desc, label) tie order keep the labels
    bit-identical to the unrolled-CTE oracle.
    """
    from .materialized import community_labels_frame

    # r9 (VERDICT r8 #3): the LABELS themselves are now the
    # materialized artifact -- the 2 synchronous LPA rounds (the last
    # per-call recompute hazard, 30.9 s steady at 30x) are paid once
    # per corpus fingerprint; steady calls are a bucketed scan + sort.
    # The pair graph underneath is still the shared auto-materialized
    # table (r8). SPARK_GRAFT_SERVING=off recomputes both inline
    # (row-identity pinned in tests/test_materialized.py).
    return community_labels_frame(spark, sf_dir, iters=2).orderBy("id")


def _bpe_oracle(
    n_merges: int = 8,
    max_word_syms: int = 64,
    segment: bool = False,
    pack_capacity: int | None = None,
    relation: str = "documents",
    prelude: str = "",
) -> str:
    """Unrolled-CTE DuckDB twin of ``operators/bpe``: one (pair-count,
    argmax, rewrite) CTE triple per merge round over the same fenced
    string-rewrite representation -- Spark's and DuckDB's literal
    ``replace`` share left-to-right non-overlapping semantics
    (validated in tests/test_bpe.py), which is what makes the whole
    iterative training loop gateable. ``segment=False`` emits the merge
    table (bpe_train_merges); ``segment=True`` emits per-source
    (n_words, n_subwords) under the trained vocabulary
    (bpe_segment_counts); ``pack_capacity`` instead emits per-document
    subword counts packed into training sequences (the q_pack_sequences
    cumsum over BPE token budgets -- the tokenize->pack pipeline)."""
    sep = "chr(31)"
    sepsep = f"{sep} || {sep}"
    rounds = []
    prev = "w0"
    for t in range(1, n_merges + 1):
        rounds.append(
            f"""s{t} AS (
  SELECT seq, freq,
         string_split(substr(seq, 2, len(seq) - 2), {sepsep}) AS s
  FROM {prev}
),
p{t} AS (
  SELECT s[g.i] AS l, s[g.i + 1] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
  FROM s{t}, generate_series(1, {max_word_syms - 1}) g(i)
  WHERE g.i <= len(s) - 1
  GROUP BY 1, 2
),
b{t} AS (
  SELECT CAST({t} AS BIGINT) AS step, l, r2, cnt
  FROM p{t} ORDER BY cnt DESC, l, r2 LIMIT 1
),
w{t} AS MATERIALIZED (
  -- LEFT JOIN ON TRUE + COALESCE so an EMPTY b{t} (corpus exhausted
  -- its mergeable pairs before round {t}) carries the vocabulary
  -- forward unchanged, exactly like the Spark loop's early break --
  -- a cross join here would zero out every later CTE and fail the
  -- segment gate on small/degenerate corpora.
  SELECT w.word,
         COALESCE(replace(w.seq,
                          {sep} || b.l || {sepsep} || b.r2 || {sep},
                          {sep} || b.l || b.r2 || {sep}),
                  w.seq) AS seq,
         w.freq
  FROM {prev} w LEFT JOIN b{t} b ON TRUE
)"""
        )
        prev = f"w{t}"
    chain = ",\n".join(rounds)
    if pack_capacity is not None:
        cap = int(pack_capacity)
        final = f""",
seg AS (
  SELECT word,
         CAST(len(string_split(substr(seq, 2, len(seq) - 2), {sepsep}))
              AS BIGINT) AS n_sub
  FROM {prev}
),
doc_tok AS (
  SELECT t.doc_id, CAST(sum(s.n_sub) AS BIGINT) AS n_tokens
  FROM toks t JOIN seg s USING (word)
  GROUP BY t.doc_id
),
pos AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS p
  FROM doc_tok
)
SELECT doc_id, n_tokens,
       p // {cap} AS bin,
       p % {cap} AS "offset"
FROM pos
ORDER BY doc_id"""
    elif segment:
        # seg is one more CTE -> needs the comma after the chain
        final = f""",
seg AS (
  SELECT word,
         CAST(len(string_split(substr(seq, 2, len(seq) - 2), {sepsep}))
              AS BIGINT) AS n_sub
  FROM {prev}
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.n_sub) AS BIGINT) AS n_subwords
FROM toks t JOIN seg s USING (word)
GROUP BY t.source
ORDER BY t.source"""
    else:
        union = "\nUNION ALL\n".join(
            f"SELECT * FROM b{t}" for t in range(1, n_merges + 1)
        )
        final = f"""
SELECT step, l AS "left", r2 AS "right", l || r2 AS merged,
       cnt AS pair_count
FROM ({union})
ORDER BY step"""
    return rf"""
WITH {prelude}toks AS (
  -- replace(chr(31)) mirrors the Spark tokenizer's fence-character
  -- strip (operators/bpe._tokens): a U+001F inside a word would be
  -- indistinguishable from a symbol boundary in the seq encoding.
  SELECT doc_id, source,
         unnest(string_split_regex(
           trim(lower(replace(text, {sep}, ''))), '\s+')) AS word
  FROM {relation}
),
w0 AS MATERIALIZED (
  -- w0 and every w{{t}} are MATERIALIZED: each is referenced by the
  -- next round's s/w pair, and DuckDB re-inlines shared CTEs -- the
  -- un-materialized chain re-derives the whole prefix per reference,
  -- exponential in rounds (measured: 8 rounds 5.2 s, 12 rounds DNF;
  -- materialized: 12 rounds ~0.1 s). Same fix as _modularity_oracle.
  SELECT word,
         {sep} || array_to_string(string_split(word, ''), {sepsep}) || {sep}
           AS seq,
         CAST(count(*) AS BIGINT) AS freq
  FROM toks WHERE word <> '' GROUP BY word
),
{chain}{final}
"""


@query(
    "q_bpe_merges",
    tags=("text", "tokenizer"),
    oracle=_bpe_oracle(n_merges=8),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 BPE merges learned from the document corpus
    (operators/bpe.bpe_train_merges): frequency-weighted adjacent-pair
    counts over the word vocabulary, deterministic smallest-pair ties,
    canonical single-pass merge application -- tokenizer training as an
    oracle-gated iterative Spark job. Per round the aggregation key
    space is the active pair vocabulary, never the corpus.

    r12: the trained merge table is served from the per-fingerprint
    model registry (plans/models.py — the kmeans/PQ doctrine applied
    to the tokenizer artifact); the oracle retrains relationally
    either way, so the registry path is hash-gated end to end.
    """
    from .models import bpe_merge_rows

    rows = bpe_merge_rows(spark, sf_dir, n_merges=8)
    return spark.createDataFrame(
        rows,
        "step long, left string, right string, merged string,"
        " pair_count long",
    ).orderBy("step")


@query(
    "q_bpe_segment",
    tags=("text", "tokenizer"),
    oracle=_bpe_oracle(n_merges=8, segment=True),
)
def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply-side of the trained tokenizer: per source, whitespace-word
    and BPE-subword counts under the 8 learned merges
    (operators/bpe.bpe_segment_counts) -- the EXACT token-budget
    accounting that replaces q_token_classes' ceil(len/4) estimate once
    a tokenizer exists. Each distinct word segments once; occurrences
    join the vocabulary-level result. r12: segments under the
    registry-pinned merge table via the canonical-apply chain (zero
    training rounds per call).
    """
    from ..operators.bpe import bpe_segment_counts
    from .models import bpe_merge_rows

    d = read_table(spark, sf_dir, "documents")
    merges = bpe_merge_rows(spark, sf_dir, n_merges=8)
    return bpe_segment_counts(
        d, "text", "source", n_merges=8, merges=merges
    )


def _natural_vocab_oracle(n_merges: int = 12) -> str:
    """The BPE merge-table oracle over the NATURAL-VOCABULARY synthetic
    corpus (VERDICT r9 #4b): the corpus is a pure deterministic
    function of its parameters (sources/synthetic.natural_vocab_docs),
    so the oracle inlines the exact same rows as a VALUES relation and
    replays the same unrolled merge chain -- engine-independent, no
    parquet table involved. Word text is ASCII letters only, so the
    literal embedding needs no escaping."""
    from ..sources.synthetic import natural_vocab_docs

    docs = natural_vocab_docs(n_words=800, n_tokens=8_000, doc_len=64, seed=7)
    vals = ",\n    ".join(f"({i}, '{s}', '{t}')" for i, s, t in docs)
    prelude = f"nvdocs(doc_id, source, text) AS (VALUES\n    {vals}\n),\n"
    return _bpe_oracle(n_merges=n_merges, relation="nvdocs", prelude=prelude)


@query(
    "q_bpe_natural_vocab",
    tags=("text", "tokenizer"),
    oracle=_natural_vocab_oracle(n_merges=12),
)
def q_bpe_natural_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training gated at a NATURAL vocabulary shape (VERDICT r9
    #4b): 12 merges learned from the morphology-shaped Zipf corpus
    (800 word types / 8k tokens, seed-pinned), through the BATCHED
    certification path (batch=4 -- output proven identical to
    sequential by construction, operators/bpe._accept_batch). The
    corpus is a pure function of its parameters and ``sf_dir`` is
    deliberately ignored: the registered oracle must be one fixed SQL
    string, and this gate certifies tokenizer-training semantics on
    realistic vocabulary structure, not testdata-scale behavior (the
    4096-merge / 16k-word certification is recorded in BENCH_NOTES r9,
    "Certified-batched BPE at a real vocabulary", and pinned by
    tests/test_bpe.py).
    """
    from .models import natural_vocab_bpe_rows

    rows = natural_vocab_bpe_rows(
        spark, n_words=800, n_tokens=8_000, doc_len=64, seed=7,
        n_merges=12, batch=4,
    )
    return spark.createDataFrame(
        rows,
        "step long, left string, right string, merged string,"
        " pair_count long",
    ).orderBy("step")


@query(
    "q_tokenize_pack",
    tags=("text", "tokenizer", "packing"),
    oracle=_bpe_oracle(n_merges=8, pack_capacity=2048),
)
def q_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data job end to end: train the tokenizer
    (8 BPE merges), count each document's EXACT subword budget at the
    vocabulary level (each distinct word segments once; occurrences
    join), and pack documents contiguously into 2048-token training
    sequences in content-hash order (the scalable two-level prefix sum
    of operators/packing -- no global sort). Returns per document
    (doc_id, n_tokens, bin, offset): which training sequence it starts
    in and where. The whole pipeline is one lazy plan after the 8
    driver-synced merge rounds; the oracle replays it as the BPE CTE
    chain feeding the naive single-window cumsum.
    """
    from ..operators import packing as pk
    from ..operators.bpe import SEP, _merged_seq, _tokens
    from .models import bpe_merge_rows

    d = read_table(spark, sf_dir, "documents")
    merges = bpe_merge_rows(spark, sf_dir, n_merges=8)
    vocab = (
        _tokens(d, "text")
        .select("word")
        .distinct()
        .select("word", _merged_seq(merges).alias("seq"))
    )
    n_sub = F.size(
        F.split(F.expr("substring(seq, 2, length(seq) - 2)"), SEP + SEP)
    )
    seg = vocab.select("word", n_sub.cast("long").alias("n_sub"))
    doc_tok = (
        _tokens(d, "text", (F.col("doc_id"),))
        .join(seg, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_sub").alias("n_tokens"))
    )
    return pk.pack_sequences(
        doc_tok, "doc_id", F.col("n_tokens"), capacity=2048
    ).orderBy("doc_id")


@query(
    "q_cluster_purity",
    tags=("similarity", "cluster", "eval"),
    oracle=f"""
WITH res AS (
{_kmeans_oracle(k=8, iters=2, dim=64, quantize=4)}
),
lab AS (
  SELECT r.cluster, e.label, count(*) AS n
  FROM res r JOIN embeddings e USING (vec_id)
  GROUP BY r.cluster, e.label
),
tot AS (SELECT cluster, sum(n) AS n_vecs FROM lab GROUP BY cluster),
maj AS (
  SELECT cluster, label AS majority_label, n AS n_majority
  FROM (
    SELECT cluster, label, n,
           row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
    FROM lab
  ) t WHERE rn = 1
)
SELECT t.cluster,
       CAST(t.n_vecs AS BIGINT) AS n_vecs,
       m.majority_label,
       CAST(m.n_majority AS BIGINT) AS n_majority,
       CAST((m.n_majority * 1000) // t.n_vecs AS BIGINT) AS purity_permille
FROM tot t JOIN maj m USING (cluster)
ORDER BY cluster
""",
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: each semantic cluster's size,
    majority ground-truth label, and purity (majority fraction in
    exact integer permille) -- the standard check that an unsupervised
    partition tracks the labeled classes before it drives sampling or
    distillation decisions. Reuses q_semantic_clusters' integer Lloyd
    assignment; operators/clustering.cluster_purity adds one id-keyed
    join, one (cluster, label) aggregation, and a k-sized majority
    window, all keyed on the cluster.
    """
    from ..operators.clustering import cluster_purity, kmeans_assign
    from .models import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(spark, sf_dir, k=8, iters=2, quantize=4)
    asg = kmeans_assign(emb, cents, "vec_id", "embedding", quantize=4).select(
        "id", "cluster", "d2"
    )
    return cluster_purity(asg, emb, "vec_id", "label").orderBy("cluster")


def _kcore_oracle(k: int = 2, iters: int = 3) -> str:
    """Unrolled synchronous k-core peeling over the SimHash radius-1
    pair graph -- one (degree, survivor) CTE pair per round, generated
    so the rounds provably match operators/graph.kcore_members (the
    _lpa_oracle technique)."""
    rounds = []
    prev = "s0"
    for t in range(1, iters + 1):
        rounds.append(
            f"""d{t} AS (
  SELECT e.src AS id, count(*) AS deg
  FROM ed e
  JOIN {prev} a ON a.id = e.src
  JOIN {prev} b ON b.id = e.dst
  GROUP BY e.src
),
s{t} AS (SELECT id FROM d{t} WHERE deg >= {k})"""
        )
        prev = f"s{t}"
    chain = ",\n".join(rounds)
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
s0 AS (SELECT DISTINCT src AS id FROM ed),
{chain}
SELECT id, CAST(deg AS BIGINT) AS deg
FROM d{iters} WHERE deg >= {k}
ORDER BY id
"""


@query(
    "q_kcore",
    # closure_oracle: the unrolled peeling oracle joins the 63M-row ed
    # CTE per round and DuckDB re-materializes it each time -- measured
    # filling 78 GB of temp spill (disk-full abort) at the 30x corpus.
    # The Spark side is fine there (23.7 s steady); only the ORACLE is
    # size-gated, per the r6 bounded-oracle doctrine.
    tags=("graph", "dedup", "closure_oracle"),
    oracle=_kcore_oracle(k=2, iters=3),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the SimHash radius-1 near-dup pair graph after 3
    synchronous peeling rounds (operators/graph.kcore_members): the
    dense template cores that survive when tree-like stragglers are
    peeled away -- the standard densest-region prefilter before
    clique-ish analyses (triangles, communities). Fixed rounds keep it
    a pure function of the graph, gated by an unrolled-CTE oracle.
    """
    from ..operators import graph as gr

    from .materialized import simhash_pairs_frame

    # r8 (VERDICT r7 #4): the radius-1 pair graph is served from the
    # shared auto-materialized bucketed table -- its banded generation
    # (~114 s at 30x) is paid once across ALL graph consumers.
    # SPARK_GRAFT_SERVING=off regenerates inline (row-identical).
    pairs = simhash_pairs_frame(spark, sf_dir)
    return gr.kcore_members(pairs, "id_a", "id_b", k=2, iters=3).orderBy("id")


@query(
    "q_ann_recall",
    tags=("similarity", "cluster", "eval"),
    # The IVF side is the REGISTERED q_ivf_topk oracle verbatim (same
    # constants by construction); the brute-force base is the
    # q_cosine_topk shape at k=3.
    oracle=f"""
WITH ivf AS (
{REGISTRY["q_ivf_topk"].oracle}
),
qv AS (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0))
           AS v
  FROM embeddings WHERE vec_id < 10
),
cv AS (
  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000.0))
           AS v
  FROM embeddings
),
bf AS (
  SELECT q_id, cand_id FROM (
    SELECT qv.vec_id AS q_id, cv.vec_id AS cand_id,
           row_number() OVER (
             PARTITION BY qv.vec_id
             ORDER BY list_dot_product(qv.v, cv.v)
                      / sqrt(list_dot_product(qv.v, qv.v)
                             * list_dot_product(cv.v, cv.v)) DESC,
                      cv.vec_id
           ) AS rank
    FROM qv, cv
    WHERE qv.vec_id != cv.vec_id
  ) t WHERE rank <= 3
),
hits AS (
  SELECT bf.q_id, count(*) AS n_hits
  FROM bf JOIN ivf ON ivf.q_id = bf.q_id AND ivf.cand_id = bf.cand_id
  GROUP BY bf.q_id
),
base AS (SELECT q_id, count(*) AS n_base FROM bf GROUP BY q_id)
SELECT b.q_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((coalesce(h.n_hits, 0) * 1000) // b.n_base AS BIGINT)
         AS recall_permille
FROM base b LEFT JOIN hits h USING (q_id)
ORDER BY q_id
""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the IVF index (q_ivf_topk,
    2-probe) against brute-force cosine ground truth, per query, in
    exact integer permille -- the measurement that decides whether an
    approximate index is deployable, run as a query over the same
    engine. Both sides are k-sized per query, so the comparison join
    and the per-query aggregate are |queries|x3 rows end-to-end.
    """
    from ..operators import similarity as sim
    from .models import cosine_prepared_queries

    ivf = q_ivf_topk(spark, sf_dir)
    e = read_table(spark, sf_dir, "embeddings")
    prepared = cosine_prepared_queries(spark, sf_dir, max_id=10, quantize=4)
    bf = sim.cosine_topk_arrow(
        e, None, "vec_id", "embedding", k=3, quantize=4, prepared=prepared
    )
    hits = (
        bf.select("q_id", "cand_id")
        .join(ivf.select("q_id", "cand_id"), ["q_id", "cand_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = bf.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_base"))
    return (
        base.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr("(coalesce(n_hits, 0) * 1000) div n_base")
            .cast("long")
            .alias("recall_permille"),
        )
        .orderBy("q_id")
    )


def _kcenter_oracle(m: int, dim: int, quantize: int) -> str:
    """Unrolled greedy k-center oracle: per round a (new-distance,
    running-min, argmax-pick, center) CTE quartet over the same
    quantized long-form corpus the kmeans oracle uses -- generated so
    the rounds provably match operators/clustering.kcenter_coreset."""
    scale = 10**quantize
    rounds = []
    for t in range(2, m + 1):
        prev_min = "m1" if t == 2 else f"m{t - 1}"
        rounds.append(
            f"""p{t} AS (
  SELECT id, d2 FROM {prev_min} ORDER BY d2 DESC, id LIMIT 1
),
cf{t} AS (SELECT qf.pos, qf.val FROM qf JOIN p{t} USING (id)),
n{t} AS (
  SELECT qf.id, CAST(sum((qf.val - c.val) * (qf.val - c.val)) AS BIGINT) AS nd2
  FROM qf JOIN cf{t} c USING (pos)
  GROUP BY qf.id
),
m{t} AS (
  SELECT mm.id, least(mm.d2, n{t}.nd2) AS d2
  FROM {prev_min} mm JOIN n{t} USING (id)
)"""
        )
    chain = ",\n".join(rounds)
    picks = ["SELECT CAST(0 AS BIGINT) AS rank, c1.id AS vec_id, CAST(0 AS BIGINT) AS d2 FROM c1"]
    picks += [
        f"SELECT CAST({t - 1} AS BIGINT), p{t}.id, CAST(p{t}.d2 AS BIGINT) FROM p{t}"
        for t in range(2, m + 1)
    ]
    union = "\nUNION ALL ".join(picks)
    return f"""
WITH q AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
           AS qv
  FROM embeddings
),
qf AS (
  SELECT id, g.i - 1 AS pos, qv[g.i] AS val
  FROM q, generate_series(1, {dim}) g(i)
),
c1 AS (SELECT id FROM q ORDER BY id LIMIT 1),
cf1 AS (SELECT qf.pos, qf.val FROM qf JOIN c1 USING (id)),
m1 AS (
  SELECT qf.id, CAST(sum((qf.val - c.val) * (qf.val - c.val)) AS BIGINT) AS d2
  FROM qf JOIN cf1 c USING (pos)
  GROUP BY qf.id
),
{chain}
SELECT * FROM ({union})
ORDER BY rank
"""


@query(
    "q_coreset",
    tags=("similarity", "cluster", "sampling"),
    oracle=_kcenter_oracle(m=6, dim=64, quantize=4),
)
def q_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset of the embedding corpus
    (operators/clustering.kcenter_coreset, m=6): the
    diversity-maximizing m points and the coverage-radius curve (each
    pick's distance to the previously-chosen set) -- the spread
    complement of q_cluster_exemplars' density picks for dataset
    distillation. Exact integer distances, lowest-id ties; gated by an
    unrolled-CTE farthest-point oracle.
    """
    from ..operators.clustering import kcenter_coreset

    emb = read_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "vec_id", "embedding", m=6, quantize=4).orderBy(
        "rank"
    )


@query(
    "q_snapshot_diff",
    tags=("dedup", "incremental"),
    oracle="""
WITH old AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 7 != 3
),
new AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 5 != 4
),
d AS (
  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
         COALESCE(n.source, o.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
              ELSE 'changed' END AS status,
         COALESCE(length(o.text), 0) AS chars_old,
         COALESCE(length(n.text), 0) AS chars_new
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source, status,
       count(*) AS n_docs,
       CAST(sum(chars_new) - sum(chars_old) AS BIGINT) AS chars_delta
FROM d
GROUP BY source, status
ORDER BY source, status
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest CDC rollup (operators/snapshots.snapshot_diff):
    classify every document across two crawl snapshots as added /
    removed / changed / unchanged by content fingerprint and report
    per-(source, status) document counts and byte churn. The snapshots
    are deterministic slices of the documents table (previous crawl =
    doc_id % 7 != 3; current crawl = doc_id % 5 != 4, with every
    doc_id % 11 == 0 document carrying a simulated edit), so all four
    statuses occur at the gate. Only (id, md5, length) cross the
    full-outer-join shuffle -- never document bodies; the moral twin of
    the reference's cached-vs-requested fetch anti-join
    (ExternalApiResultsFetcher.py) at corpus granularity.
    """
    from ..operators.snapshots import snapshot_diff

    d = read_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 3).select("doc_id", "source", "text")
    new = d.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    diff = snapshot_diff(old, new, "doc_id", "text", "source")
    return (
        diff.groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("chars_new") - F.sum("chars_old"))
            .cast("long")
            .alias("chars_delta"),
        )
        .orderBy("source", "status")
    )


def _pq_subspace_parts(
    m: int, k: int, iters: int, dim: int, n_queries: int, init_cte: str
) -> list[str]:
    """Per-subspace unrolled-Lloyd CTE chains of the PQ oracles: for
    each subspace s, the codebook init (slices of ``init_cte``'s k
    lowest-id vectors), iters rounds of distance/argmin/floor-mean
    CTEs restricted to the subspace's position range, the final code
    argmin per vector, and the query LUT (exact query-to-codeword
    distances for qf.id < n_queries). ``init_cte`` must map the k
    lowest ids to cluster 0..k-1 (both ``cinit`` here and the coarse
    kmeans oracle's ``c0`` qualify, which is what lets the IVF-PQ
    oracle share one init)."""
    d = dim // m
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * d, (s + 1) * d
        parts.append(
            f"""
cf{s}_0 AS (
  SELECT c.cluster, qf.pos, qf.val AS cval
  FROM {init_cte} c JOIN qf USING (id)
  WHERE qf.pos >= {lo} AND qf.pos < {hi}
)"""
        )
        for r in range(1, iters + 1):
            parts.append(
                f"""
d{s}_{r} AS (
  SELECT qf.id, c.cluster,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS d2
  FROM qf JOIN cf{s}_{r - 1} c USING (pos)
  GROUP BY qf.id, c.cluster
),
a{s}_{r} AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
    FROM d{s}_{r}
  ) t WHERE rn = 1
),
u{s}_{r} AS (
  SELECT a.cluster, qf.pos,
         CAST(floor(CAST(sum(qf.val) AS DOUBLE) / count(*)) AS BIGINT) AS cval
  FROM a{s}_{r} a JOIN qf USING (id)
  WHERE qf.pos >= {lo} AND qf.pos < {hi}
  GROUP BY a.cluster, qf.pos
),
cf{s}_{r} AS (
  SELECT cluster, pos, cval FROM u{s}_{r}
  UNION ALL
  SELECT c.cluster, c.pos, c.cval FROM cf{s}_{r - 1} c
  WHERE c.cluster NOT IN (SELECT DISTINCT cluster FROM u{s}_{r})
)"""
            )
        parts.append(
            f"""
dfin{s} AS (
  SELECT qf.id, c.cluster,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS d2
  FROM qf JOIN cf{s}_{iters} c USING (pos)
  GROUP BY qf.id, c.cluster
),
code{s} AS (
  SELECT id, cluster AS code FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
    FROM dfin{s}
  ) t WHERE rn = 1
),
lut{s} AS (
  SELECT qf.id AS q_id, c.cluster AS code,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS pd2
  FROM qf JOIN cf{s}_{iters} c USING (pos)
  WHERE qf.id < {n_queries}
  GROUP BY qf.id, c.cluster
)"""
        )
    return parts


def _pq_oracle(
    m: int, k: int, iters: int, dim: int, quantize: int, n_queries: int, topk: int
) -> str:
    """Unrolled-CTE DuckDB twin of ``operators/pq.pq_topk``: one full
    integer-Lloyd chain per subspace (the ``_kmeans_oracle_ctes``
    machinery restricted to the subspace's position range), the
    per-vector code argmins, the query LUTs as exact
    query-to-codeword distance CTEs, and the ADC sum + per-query
    top-k tail. Every arithmetic step is the same exact integer (or
    fixed-shape floor(double)) operation the Spark plan runs.
    """
    scale = 10**quantize
    parts = [
        f"""
q AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
           AS qv
  FROM embeddings
),
qf AS (
  SELECT id, g.i - 1 AS pos, qv[g.i] AS val
  FROM q, generate_series(1, {dim}) g(i)
),
cinit AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, id
  FROM (SELECT id FROM q ORDER BY id LIMIT {k})
)"""
    ]
    parts += _pq_subspace_parts(m, k, iters, dim, n_queries, init_cte="cinit")
    code_joins = " ".join(
        f"JOIN code{s} c{s} USING (id)" for s in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.q_id = l0.q_id AND l{s}.code = c{s}.code"
        for s in range(1, m)
    )
    adc = " + ".join(f"l{s}.pd2" for s in range(m))
    parts.append(
        f"""
scored AS (
  SELECT l0.q_id, c0.id AS cand_id, CAST({adc} AS BIGINT) AS adc_d2
  FROM code0 c0 {code_joins}
  JOIN lut0 l0 ON l0.code = c0.code {lut_joins}
  WHERE c0.id != l0.q_id
)"""
    )
    return (
        "WITH" + ",".join(parts)
        + f"""
SELECT q_id, cand_id, CAST(rank AS BIGINT) AS rank, adc_d2
FROM (
  SELECT q_id, cand_id, adc_d2,
         row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, cand_id) AS rank
  FROM scored
) t WHERE rank <= {topk}
ORDER BY q_id, rank"""
    )


@query(
    "q_pq_topk",
    tags=("similarity", "cluster"),
    oracle=_pq_oracle(
        m=4, k=8, iters=2, dim=64, quantize=4, n_queries=4, topk=5
    ),
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.pq_topk): 4 subspaces x 8
    codewords trained with the integer-exact Lloyd machinery, the
    corpus encoded map-side to 4 codes/vector (16 dims of float -> one
    code each), and the first 4 vectors each retrieving their top-5
    neighbours by asymmetric-distance (ADC) lookup. Completes the ANN
    family's scale ladder: brute-force (exact, scan-bound) -> IVF
    (prunes candidates) -> PQ (compresses storage + constant-time
    scoring); at 100 TB the codes table is ~60x smaller than the
    embeddings it replaces. The whole read path is two projections and
    a WindowGroupLimit top-k -- the corpus never shuffles.
    """
    from ..operators.pq import pq_topk
    from .models import pq_codebooks, quantized_query_rows

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb,
        "vec_id",
        "embedding",
        dim=64,
        m=4,
        k=8,
        iters=2,
        quantize=4,
        n_queries=4,
        topk=5,
        books=pq_codebooks(spark, sf_dir, dim=64, m=4, k=8, iters=2, quantize=4),
        query_rows=quantized_query_rows(spark, sf_dir, n_queries=4, quantize=4),
    )


@query(
    "q_bm25",
    tags=("text", "search"),
    oracle=r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
dl AS (SELECT id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY id),
tot AS (
  SELECT CAST(sum(dl) AS BIGINT) AS t_all, CAST(count(*) AS BIGINT) AS n_docs
  FROM dl
),
tf AS (
  SELECT id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN ('dup', 'vector', 'merge')
  GROUP BY id, tok
),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.id,
         ((1000 * (2*n_docs - 2*df + 1)) // (2*df + 1)) *
         ((22000 * tf * t_all) // (10*tf*t_all + 3*t_all + 9*dl*n_docs))
           AS term_score
  FROM tf JOIN dfq USING (tok) JOIN dl USING (id) CROSS JOIN tot
),
agg AS (
  SELECT id AS doc_id,
         CAST(sum(term_score) AS BIGINT) AS bm25_micro,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM scored GROUP BY id
)
SELECT doc_id, n_terms, bm25_micro, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT doc_id, n_terms, bm25_micro,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rank
  FROM agg
) t WHERE rank <= 10
ORDER BY rank
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (operators/textanalysis.bm25_topk): the top-10
    documents for the query {dup, vector, merge} -- one rare term (the
    near-duplicate marker, df ~5%) and two mid-band terms -- scored
    with integer-exact BM25 (k1=1.2, b=0.75; ln-IDF replaced by the
    equivalent integer rational so both engines agree bit-for-bit).
    The retrieval read of the search family: search_grams/tfidf build
    the index and keywords, this ranks documents for a query. The
    query-term filter prunes the tf stream before any shuffle; df and
    corpus totals broadcast.
    """
    from ..operators.textanalysis import bm25_topk

    d = read_table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", ("dup", "vector", "merge"), topk=10)


@query(
    "q_incremental_rollup",
    tags=("dedup", "incremental", "agg"),
    oracle=r"""
WITH new AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 5 != 4
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                t -> t != ''))) AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM new
GROUP BY source
ORDER BY source
""",
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance
    (operators/snapshots.incremental_rollup): the per-source
    (n_docs, n_tokens, n_chars) rollup of the CURRENT crawl computed
    as previous-rollup + delta, where the delta touches only
    added/changed/removed documents. The gate is strong by
    construction: the oracle recomputes the current rollup DIRECTLY
    from the new snapshot, so a hash match proves the maintenance
    algebra (rollup_old - touched_old + touched_new), not just the
    arithmetic. Same synthetic crawl pair as q_snapshot_diff.
    """
    from ..operators.snapshots import incremental_rollup

    d = read_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 3).select("doc_id", "source", "text")
    new = d.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return incremental_rollup(old, new, "doc_id", "text", "source").orderBy(
        "source"
    )


@query(
    "q_mixture_weights",
    tags=("sampling", "mixture"),
    oracle=r"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  t -> t != ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
  FROM per
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_all,
         CAST(sum(weight) AS BIGINT) AS w_sum
  FROM w
)
SELECT source, n_docs, n_tokens, weight,
       ((t_all // 2) * weight) // w_sum AS alloc_tokens,
       ((((t_all // 2) * weight) // w_sum) * 1000) // n_tokens
         AS epochs_permille
FROM w CROSS JOIN tot
ORDER BY source
""",
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture derivation
    (operators/textanalysis.temperature_mixture): per-source sampling
    weights proportional to sqrt(token mass) (alpha=0.5) and the
    integer-exact allocation of a half-total token budget, with
    epochs_permille flagging sources that would repeat. The upstream
    planner of q_mixture_sample (which applies a given rate map).
    """
    from ..operators.textanalysis import temperature_mixture

    d = read_table(spark, sf_dir, "documents")
    return temperature_mixture(d, "source", "text", budget_div=2)


def _ivfpq_oracle(
    coarse_k: int,
    coarse_iters: int,
    m: int,
    k: int,
    iters: int,
    dim: int,
    quantize: int,
    n_probe: int,
    n_queries: int,
    topk: int,
) -> str:
    """Unrolled-CTE DuckDB twin of ``operators/pq.ivfpq_topk``: the
    coarse kmeans chain (``_kmeans_oracle_ctes`` -- q/qf/c0/cf{r}/dfin)
    provides cells, probes come from exact query-to-centroid distances
    over the final coarse centroids, the PQ subspace chains
    (``_pq_subspace_parts``, sharing the kmeans init c0 -- valid
    because coarse_k == k and both map the k lowest ids to clusters
    0..k-1) provide codes and LUTs, and the tail scores only probed
    cells' members by ADC sum. Requires coarse_k == k.
    """
    assert coarse_k == k, "shared c0 init requires coarse_k == pq k"
    parts = [_kmeans_oracle_ctes(coarse_k, coarse_iters, dim, quantize)]
    parts.append(
        f"""
asg AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
    FROM dfin
  ) t WHERE rn = 1
),
qd AS (
  SELECT qf.id AS q_id, c.cluster,
         CAST(sum((qf.val - c.cval) * (qf.val - c.cval)) AS BIGINT) AS pd2
  FROM qf JOIN cf{coarse_iters} c USING (pos)
  WHERE qf.id < {n_queries}
  GROUP BY qf.id, c.cluster
),
probes AS (
  SELECT q_id, cluster FROM (
    SELECT q_id, cluster,
           row_number() OVER (PARTITION BY q_id ORDER BY pd2, cluster) AS rn
    FROM qd
  ) t WHERE rn <= {n_probe}
)"""
    )
    parts += _pq_subspace_parts(m, k, iters, dim, n_queries, init_cte="c0")
    code_joins = " ".join(f"JOIN code{s} c{s} USING (id)" for s in range(1, m))
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.q_id = p.q_id AND l{s}.code = c{s}.code"
        for s in range(1, m)
    )
    adc = " + ".join(f"l{s}.pd2" for s in range(m))
    parts.append(
        f"""
scored AS (
  SELECT p.q_id, c0.id AS cand_id, CAST({adc} AS BIGINT) AS adc_d2
  FROM code0 c0 {code_joins}
  JOIN asg a USING (id)
  JOIN probes p ON p.cluster = a.cluster
  JOIN lut0 l0 ON l0.q_id = p.q_id AND l0.code = c0.code {lut_joins}
  WHERE c0.id != p.q_id
)"""
    )
    return (
        ",".join(parts)
        + f"""
SELECT q_id, cand_id, CAST(rank AS BIGINT) AS rank, adc_d2
FROM (
  SELECT q_id, cand_id, adc_d2,
         row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, cand_id) AS rank
  FROM scored
) t WHERE rank <= {topk}
ORDER BY q_id, rank"""
    )


@query(
    "q_ivfpq_topk",
    tags=("similarity", "cluster"),
    oracle=_ivfpq_oracle(
        coarse_k=8,
        coarse_iters=2,
        m=4,
        k=8,
        iters=2,
        dim=64,
        quantize=4,
        n_probe=2,
        n_queries=4,
        topk=3,
    ),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.ivfpq_topk): the FAISS IndexIVFPQ
    serving structure with a fully oracle-gated model -- coarse
    integer-Lloyd cells prune candidates (n_probe=2), PQ codes score
    them by ADC lookup. The whole read path is projections plus one
    WindowGroupLimit; at 100 TB the codes table is additionally
    partitioned by cell id so probes read only their cells' files.
    Caps the ANN ladder: brute -> IVF (prune) -> PQ (compress) ->
    IVF-PQ (both).
    """
    from ..operators.pq import ivfpq_topk
    from .models import kmeans_centroids, pq_codebooks, quantized_query_rows

    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        "vec_id",
        "embedding",
        dim=64,
        coarse_k=8,
        coarse_iters=2,
        m=4,
        k=8,
        iters=2,
        quantize=4,
        n_probe=2,
        n_queries=4,
        topk=3,
        books=pq_codebooks(spark, sf_dir, dim=64, m=4, k=8, iters=2, quantize=4),
        coarse_cents=kmeans_centroids(spark, sf_dir, k=8, iters=2, quantize=4),
        query_rows=quantized_query_rows(spark, sf_dir, n_queries=4, quantize=4),
    )


@query(
    "q_quality_drift",
    tags=("dedup", "incremental", "text"),
    oracle=r"""
WITH old AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 7 != 3
),
new AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 5 != 4
),
added AS (
  SELECT n.source, n.text FROM new n LEFT JOIN old o USING (doc_id)
  WHERE o.doc_id IS NULL
),
removed AS (
  SELECT o.source, o.text FROM old o LEFT JOIN new n USING (doc_id)
  WHERE n.doc_id IS NULL
),
m AS (
  SELECT 'added' AS status, source,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t != '')) AS n_tokens,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t IN ('the', 'a', 'of', 'and', 'to')))
           AS n_stop
  FROM added
  UNION ALL
  SELECT 'removed', source,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t != '')),
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t IN ('the', 'a', 'of', 'and', 'to')))
  FROM removed
)
SELECT source, status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) // count(*) AS avg_tokens,
       CAST(sum(n_stop) * 1000 AS BIGINT) / CAST(sum(n_tokens) AS BIGINT)
         AS stop_permille_x
FROM m
GROUP BY source, status
ORDER BY source, status
""",
)
def q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-quality drift monitor: for each source, the document
    count, mean token length, and corpus stopword rate (permille,
    single final IEEE division on exact integer sums) of the documents
    ADDED vs REMOVED between two crawl snapshots -- the "is the crawl
    getting worse" alarm that pairs with q_snapshot_diff's volume
    deltas. Added/removed slices come from id anti-joins (metadata
    only crosses the exchange: the anti-join carries ids, the quality
    metrics are map-side on the surviving side's text).
    """
    from ..operators.textanalysis import STOPWORDS
    from ..functions.text import tokens as _tokens

    d = read_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 3).select("doc_id", "source", "text")
    new = d.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )

    def metrics(df: DataFrame, status: str) -> DataFrame:
        toks = _tokens(F.lower(F.col("text")))
        return df.select(
            F.lit(status).alias("status"),
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
            .cast("long")
            .alias("n_stop"),
        )

    added = metrics(new.join(old.select("doc_id"), "doc_id", "left_anti"), "added")
    removed = metrics(
        old.join(new.select("doc_id"), "doc_id", "left_anti"), "removed"
    )
    return (
        added.unionAll(removed)
        .groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("CAST(sum(n_tokens) AS BIGINT) div count(1)").alias(
                "avg_tokens"
            ),
            (
                F.sum("n_stop").cast("long") * F.lit(1000)
                / F.sum("n_tokens").cast("long")
            ).alias("stop_permille_x"),
        )
        .orderBy("source", "status")
    )


@query(
    "q_hybrid_rrf",
    tags=("search", "similarity"),
    oracle=r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
dl AS (SELECT id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY id),
tot AS (
  SELECT CAST(sum(dl) AS BIGINT) AS t_all, CAST(count(*) AS BIGINT) AS n_docs
  FROM dl
),
tf AS (
  SELECT id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN ('dup', 'vector', 'merge')
  GROUP BY id, tok
),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
bscored AS (
  SELECT tf.id,
         ((1000 * (2*n_docs - 2*df + 1)) // (2*df + 1)) *
         ((22000 * tf * t_all) // (10*tf*t_all + 3*t_all + 9*dl*n_docs))
           AS term_score
  FROM tf JOIN dfq USING (tok) JOIN dl USING (id) CROSS JOIN tot
),
bagg AS (
  SELECT id, CAST(sum(term_score) AS BIGINT) AS s FROM bscored GROUP BY id
),
bm AS (
  SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank FROM (
    SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank FROM bagg
  ) t WHERE rank <= 20
),
q AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))
           AS qv
  FROM embeddings
),
qf AS (
  SELECT id, g.i - 1 AS pos, qv[g.i] AS val
  FROM q, generate_series(1, 64) g(i)
),
vd AS (
  SELECT a.id, CAST(sum((a.val - b.val) * (a.val - b.val)) AS BIGINT) AS d2
  FROM qf a JOIN qf b ON a.pos = b.pos AND b.id = 0
  GROUP BY a.id
),
vec AS (
  SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank FROM (
    SELECT id, row_number() OVER (ORDER BY d2, id) AS rank FROM vd
  ) t WHERE rank <= 20
)
SELECT doc_id, bm25_rank, vec_rank, rrf_x1m
FROM (
  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         b.rank AS bm25_rank, v.rank AS vec_rank,
         CAST(COALESCE(1000000 // (60 + b.rank), 0)
              + COALESCE(1000000 // (60 + v.rank), 0) AS BIGINT) AS rrf_x1m
  FROM bm b FULL OUTER JOIN vec v ON v.doc_id = b.doc_id
) t
ORDER BY rrf_x1m DESC, doc_id
LIMIT 10
""",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (operators/search.rrf_fuse): the BM25 top-20 for {dup, vector,
    merge} fused with the exact-quantized-L2 top-20 neighbours of
    document 0's embedding (doc_id == vec_id in this corpus), RRF
    k=60, integer contributions. The modern retrieval default --
    lexical and vector lists disagree precisely where each is blind,
    and rank fusion needs no score calibration. Both rank lists are
    top-N-sized, so fusion costs two tiny outer joins after the
    underlying retrieval machinery.
    """
    from ..operators.clustering import _sq_dist_sql
    from ..operators.search import rrf_fuse
    from ..operators.textanalysis import bm25_topk

    d = read_table(spark, sf_dir, "documents")
    bm = bm25_topk(d, "doc_id", "text", ("dup", "vector", "merge"), topk=20)

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ).alias("q"),
    )
    anchor = q.filter(F.col("id") == 0).collect()[0].q
    vd = q.select("id", F.expr(_sq_dist_sql("q", list(anchor))).alias("d2"))
    wv = Window.orderBy("d2", "id")
    vec = (
        vd.withColumn("rank", F.row_number().over(wv).cast("long"))
        .filter(F.col("rank") <= 20)
        .select(F.col("id").alias("doc_id"), "rank")
    )
    return rrf_fuse(
        [("bm25", bm), ("vec", vec)], id_col="doc_id", k=60, topk=10
    )
