"""Property-graph operators (SURVEY.md sections 2.4 J10-J12, 2.10 T5-T8).

The reference materializes semantic tuples into an ArangoDB named graph
(vertex collections per ontology prefix, edge collections per pair --
``ArangoDbUtilities.py:107-186``) and queries it with AQL typed-path
traversals (``AqlQuerySetBuilder.java:28-351``). Spark-first, the graph
IS three DataFrames:

  vertices(coll, key)                         -- node identity
  vertex_attrs(coll, key, attr, values[])     -- A7 attribute pivot
  edges(src_coll, src_key, dst_coll, dst_key, label)

and a typed-path query compiles to a chain of equi-joins on the edges
table with per-hop collection filters -- exactly what the AQL
``IS_SAME_COLLECTION(@nodeK, p.vertices[k])`` filters express
(``AqlQuerySetBuilder.java:36-37``). Catalyst then does what ArangoDB's
optimizer did: pushdown, join ordering, broadcast of small hop frontiers.

Scale posture: partition/bucket edges by (src_coll, dst_coll) so per-hop
collection filters become partition pruning; the frontier-expansion loop
for variable-depth traversal persists + checkpoints each frontier and
terminates on empty frontier (depth cap 64 mirrors the reference's
``1..64 OUTBOUND`` cap, ``AqlQuerySetBuilder.java:96``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def split_term(term) -> tuple[Column, Column]:
    """The key scheme, stated once: a term like ``CL_0000235`` is
    (coll, key) with coll the text before the first ``_`` and key the
    rest, which may itself contain ``_`` (reference key scheme:
    ``OntologyParserLoader.py:41-43``, vertex ``_key`` = term suffix).
    Returns the two Columns unaliased."""
    c = F.col(term) if isinstance(term, str) else term
    return F.substring_index(c, "_", 1), F.regexp_replace(c, r"^[^_]*_", "")


def graph_from_tuples(tuples: DataFrame) -> dict[str, DataFrame]:
    """Assemble the property graph from the tuples IR (T7 two-pass build,
    ``ResultsGraphBuilder.java:103-303`` / ``OntologyParserLoader.py:1112-1168``).

    tuples(s, p, o, lit): triples with URI object become edges; triples
    with literal object become vertex attributes; quads (lit not null)
    become edge attributes. A vertex exists iff it appears as a subject
    or URI-object (reference constructs vertices from both ends,
    ``ResultsGraphBuilder.java:103-142``).

    The two passes of the reference (construct then update) are four
    lineages over ``tuples``; the caller caches it so they read it once
    (``pipelines._load_graph`` does). Dedup-by-key HashSets
    (``ResultsGraphBuilder.java:124-137``) become dropDuplicates.

    Duplicate predicates promote scalar -> deduped sorted list, the
    Python loader's semantics (``OntologyParserLoader.py:913-921``); the
    Java loader overwrites last-wins instead
    (``ResultsGraphBuilder.java:185-189``), a divergence this engine does
    not reproduce.
    """
    # URI-vs-literal dispatch: an is_literal column threaded from the
    # RDF readers is exact; without it, the shape heuristic misreads
    # literal values that happen to look like CURIEs ("Homo_sapiens").
    if "is_literal" in tuples.columns:
        # downstream selects are all explicit projections, so the extra
        # column never reaches the outputs
        is_uri = ~F.coalesce(F.col("is_literal"), F.lit(False))
    else:
        is_uri = F.col("o").contains("http") | F.col("o").rlike(r"^[A-Za-z]+_")
    if "lit" not in tuples.columns:
        # triples-only input (e.g. straight from the RDF readers)
        tuples = tuples.withColumn("lit", F.lit(None).cast("string"))
    triples = tuples.filter(F.col("lit").isNull())
    quads = tuples.filter(F.col("lit").isNotNull())

    # One Generate pass instead of three (r12 optimization): edge and
    # attr triples partition `triples` on is_uri, so
    #   s if is_uri IS NOT NULL  (edge s  +  attr s)
    #   o if is_uri              (edge o)
    # explodes to exactly the union of the three old branches --
    # including the degenerate cases (null s rides through when its
    # branch fires; a null is_uri row contributes nothing, exactly as
    # both old filters rejected it). The old shape re-ran the upstream
    # tuple Generate once per union branch.
    _empty = F.array().cast("array<string>")
    _terms = F.concat(
        F.when(is_uri.isNotNull(), F.array(F.col("s"))).otherwise(_empty),
        F.when(is_uri, F.array(F.col("o"))).otherwise(_empty),
    )
    vertices = triples.select(F.explode(_terms).alias("term")).distinct()
    t_coll, t_key = split_term("term")
    s_coll, s_key = split_term("s")
    o_coll, o_key = split_term("o")
    edge_cols = (
        s_coll.alias("src_coll"),
        s_key.alias("src_key"),
        o_coll.alias("dst_coll"),
        o_key.alias("dst_key"),
    )
    edges = (
        triples.filter(is_uri)
        .select(*edge_cols, F.col("p").alias("label"))
        .dropDuplicates()
    )
    vertex_attrs = (
        triples.filter(~is_uri)
        .groupBy(s_coll.alias("coll"), s_key.alias("key"), F.col("p").alias("attr"))
        .agg(F.sort_array(F.collect_set("o")).alias("values"))
    )
    edge_attrs = (
        quads.groupBy(*edge_cols, F.col("p").alias("attr"))
        .agg(F.sort_array(F.collect_set("lit")).alias("values"))
    )

    return {
        "vertices": vertices.select(t_coll.alias("coll"), t_key.alias("key")),
        "edges": edges,
        "vertex_attrs": vertex_attrs,
        "edge_attrs": edge_attrs,
    }


def split_edge_annotations(
    edge_attrs: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Quadruple semantics (SURVEY section 7 risk list): an edge
    annotation must reference an edge that already exists. The
    reference's Python loader skips silently
    (``OntologyParserLoader.py:1004-1006``); its Java loader throws
    (``ResultsGraphBuilder.java:291-292``). This engine chooses
    skip-with-metric: ``kept`` is the semi-join against the edge
    relation on the (src, dst) endpoint pair, ``dangling`` comes back
    aggregated per collection pair so the skip count is inspectable
    without driver-side counters (same shape as the VALID_VERTICES
    gate's ``skipped_tuples``, ``pipelines.run_ontology_load``).

    Scale: both joins are on narrow (coll, key) pairs; the annotation
    side is typically dimension-scale next to the edge table, so AQE
    broadcasts it -- no full-edge shuffle.
    """
    keys = ["src_coll", "src_key", "dst_coll", "dst_key"]
    endpoint = edges.select(*keys).dropDuplicates()
    kept = edge_attrs.join(endpoint, keys, "left_semi")
    dangling = (
        edge_attrs.join(endpoint, keys, "left_anti")
        .groupBy("src_coll", "dst_coll")
        .agg(F.count(F.lit(1)).alias("n_skipped"))
    )
    return kept, dangling


def undirected(edges: DataFrame) -> DataFrame:
    """ANY-direction edge view (AQL traversals run ANY direction,
    ``AqlQuerySetBuilder.java:33``): union of edges with src/dst swapped."""
    flipped = edges.select(
        F.col("dst_coll").alias("src_coll"),
        F.col("dst_key").alias("src_key"),
        F.col("src_coll").alias("dst_coll"),
        F.col("src_key").alias("dst_key"),
        "label",
    )
    # unionByName: a partitioned-parquet read reorders columns
    # (partition cols last), and a positional union would silently put
    # keys in coll slots.
    return edges.select(flipped.columns).unionByName(flipped)


def typed_edges(
    df: DataFrame,
    src_coll: str,
    src_key: str,
    dst_coll: str,
    dst_key: str,
    label: str,
) -> DataFrame:
    """One deduped typed edge relation: every distinct (``src_key``,
    ``dst_key``) pair of ``df`` as an edge ``src_coll`` -> ``dst_coll``
    labelled ``label``, in the 5-column edges schema.

    Dedup runs on the two raw key columns BEFORE the constant coll/label
    literals are attached, and the keys keep their source type (longs
    for the star schema), so the distinct shuffle carries exactly 16
    bytes per edge instead of two variable-length strings. Keys are
    stringified only where a path string is built (``concat_ws``).
    """
    return (
        df.select(
            F.col(src_key).alias("src_key"), F.col(dst_key).alias("dst_key")
        )
        .dropDuplicates()
        .select(
            F.lit(src_coll).alias("src_coll"),
            "src_key",
            F.lit(dst_coll).alias("dst_coll"),
            "dst_key",
            F.lit(label).alias("label"),
        )
    )


def _hop_edges(
    edges: DataFrame | dict[str, DataFrame], coll: str
) -> DataFrame:
    """The edges a hop into ``coll`` may take: the mapping's own
    relation when ``edges`` is a ``dst_coll -> edges`` mapping (see
    ``k_hop``), else the edge table filtered on ``dst_coll``."""
    if isinstance(edges, dict):
        return edges[coll]
    return edges.filter(F.col("dst_coll") == coll)


def k_hop(
    edges: DataFrame | dict[str, DataFrame],
    start: DataFrame,
    hop_colls: list[str],
    any_direction: bool = False,
    carry_path: bool = True,
    unique_edges: bool | None = None,
) -> DataFrame:
    """J10: exact-length typed-path traversal as a chain of equi-joins.

    ``start`` has columns (coll, key); ``hop_colls[k]`` constrains the
    collection of the vertex reached at hop k+1 (the AQL
    ``IS_SAME_COLLECTION(@nodeK, p.vertices[k])`` filter,
    ``AqlQuerySetBuilder.java:55-64``). Returns one row per path with
    (v0_coll, v0_key, node_coll, node_key) for the endpoints and -- when
    ``carry_path`` -- a ``path`` array of ``coll_key`` strings plus
    per-hop ``labels``.

    Scale notes: each hop's dst_coll filter is applied *before* the join
    (predicate pushdown / partition pruning on a (src_coll,dst_coll)-
    partitioned edges table); joins are on narrow (coll, key) column
    pairs, not synthesized strings; ``carry_path=False`` drops the
    per-row path arrays so wide traversals shuffle only endpoint keys
    (counting / reachability queries don't pay for path assembly).

    ``edges`` may instead be a mapping ``dst_coll -> edge DataFrame``
    (same 5-col schema, pre-filtered per destination collection) -- the
    in-memory analog of the per-collection-pair partitioned lake layout:
    each hop then scans ONLY its own relation instead of filtering the
    union, which matters when the per-hop relations are separately
    persisted (measured 23% at the 10x bench corpus, BENCH_NOTES.md r5).
    Directed traversals only (any_direction needs the union to reverse).

    ``unique_edges`` mirrors AQL's default path uniqueness
    (uniqueEdges=path): a path never traverses the same undirected edge
    twice, so ANY-direction traversals cannot bounce straight back over
    the edge they arrived on. Implemented by carrying an array of
    direction-normalized edge ids (length <= k) and filtering on
    membership. Default: ON for ANY-direction traversals (where
    bounce-back is the hazard), OFF for directed chains -- tracking
    costs real shuffle bytes per path row, and a directed chain over
    per-hop-distinct collections cannot reuse an edge.
    """
    if unique_edges is None:
        unique_edges = any_direction
    if any_direction:
        if isinstance(edges, dict):
            raise ValueError(
                "per-collection edge maps support directed traversal only"
            )
        edges = undirected(edges)
    cur = start.select(
        F.col("coll").alias("v0_coll"),
        F.col("key").alias("v0_key"),
        F.col("coll").alias("node_coll"),
        F.col("key").alias("node_key"),
    )
    if carry_path:
        cur = cur.withColumn(
            "path", F.array(F.concat_ws("_", "node_coll", "node_key"))
        ).withColumn("labels", F.array().cast("array<string>"))
    if unique_edges:
        cur = cur.withColumn("used_edges", F.array().cast("array<string>"))
    for coll in hop_colls:
        hop = _hop_edges(edges, coll).select(
            F.col("src_coll").alias("node_coll"),
            F.col("src_key").alias("node_key"),
            F.col("dst_coll").alias("h_dst_coll"),
            F.col("dst_key").alias("h_dst_key"),
            F.col("label").alias("h_label"),
        )
        cur = cur.join(hop, ["node_coll", "node_key"])
        if unique_edges:
            # direction-normalized identity: sorted endpoint pair + label
            src_id = F.concat_ws("_", "node_coll", "node_key")
            dst_id = F.concat_ws("_", "h_dst_coll", "h_dst_key")
            edge_id = F.concat_ws(
                "|", F.least(src_id, dst_id), F.greatest(src_id, dst_id), "h_label"
            )
            cur = cur.filter(~F.array_contains(F.col("used_edges"), edge_id))
            cur = cur.withColumn(
                "used_edges", F.concat(F.col("used_edges"), F.array(edge_id))
            )
        if carry_path:
            cur = cur.withColumn(
                "path",
                F.concat(
                    F.col("path"),
                    F.array(F.concat_ws("_", "h_dst_coll", "h_dst_key")),
                ),
            ).withColumn("labels", F.concat(F.col("labels"), F.array("h_label")))
        cur = (
            cur.drop("node_coll", "node_key", "h_label")
            .withColumnRenamed("h_dst_coll", "node_coll")
            .withColumnRenamed("h_dst_key", "node_key")
        )
    return cur.drop("used_edges") if unique_edges else cur


def terminal_stats(
    edges: DataFrame | dict[str, DataFrame], coll: str
) -> DataFrame:
    """Per-source terminal summary for the LAST hop of a counting
    traversal: for every vertex with an edge into ``coll``, an exact
    bitmap of its distinct ``coll`` neighbours (Spark's fixed-width
    ``bitmap_construct_agg`` buckets) plus its out-degree into ``coll``.

    Output: (node_coll, node_key, _bkt, _bm, _deg) -- one row per
    (source vertex, bitmap bucket). Pure edge data, so a steady-state
    deployment persists it alongside the edge relation (partitioned on
    (node_coll, node_key), the key the traversal joins on) and every
    counting query reuses it; see ``q_khop_paths``.

    Terminal keys must be integral (they index bitmap bit positions) --
    the star graph's keys are longs, and the reference's ArangoDB
    ``_key`` values are numeric suffixes (``OntologyParserLoader.py:
    41-43``). Non-integer keys -> use the materializing ``k_hop`` plan.
    """
    return (
        _hop_edges(edges, coll)
        .groupBy(
            F.col("src_coll").alias("node_coll"),
            F.col("src_key").alias("node_key"),
            F.bitmap_bucket_number("dst_key").alias("_bkt"),
        )
        .agg(
            F.bitmap_construct_agg(F.bitmap_bit_position("dst_key")).alias("_bm"),
            F.count(F.lit(1)).alias("_deg"),
        )
    )


def k_hop_counts(
    edges: DataFrame | dict[str, DataFrame],
    start: DataFrame,
    hop_colls: list[str],
    terminal: DataFrame | None = None,
    compress_frontier: bool = True,
) -> DataFrame:
    """Exact path/terminal counting for a directed typed-path traversal
    WITHOUT materializing the final hop's path explosion.

    Semantically identical to ``k_hop(edges, start, hop_colls,
    carry_path=False)`` followed by ``count(*)`` and
    ``count(DISTINCT terminal)`` per start -- the AQL counting battery
    (``AqlQuerySetBuilder.java:136-147``) -- but computed over the
    counting semiring: paths are *aggregated under the last join, not
    enumerated*. The first k-1 hops run as equi-joins and collapse to
    per-(start, penultimate) multiplicities ``m``; joining those against
    ``terminal_stats`` (per-penultimate terminal bitmap ``_bm`` + degree
    ``_deg``) gives

        n_paths(start)     = sum(m * _deg)          -- semiring product
        n_terminals(start) = popcount(OR of _bm)    -- exact distinct

    Why it matters at scale: the last hop is where fan-out compounds --
    at the 10x bench corpus the materializing plan emits 37M path rows
    whose distinct-pair shuffle barely compresses (20.8M), and at 100 TB
    that blow-up grows with the product of hop degrees while this plan's
    largest intermediate stays at the k-1-hop frontier (1.2M rows there;
    measured 5.1 s -> 3.0 s at the 10x corpus, BENCH_NOTES.md r5).
    Output: (v0_coll, v0_key, n_paths, n_terminals).

    ``compress_frontier`` controls the multiplicity pre-aggregation of
    the k-1-hop frontier before the terminal join. Default ON: it is
    the guard against multiplicative fan-out (m paths reaching the same
    penultimate vertex collapse to one row carrying m). Turn OFF when
    the frontier key is known near-unique (multiplicity ~1) -- the
    pre-agg then shuffles the whole frontier to remove almost nothing,
    and summing ``_deg`` over raw frontier rows is identical. Measured
    at the 30x corpus (q_khop_paths, multiplicity 1.06):
    8.65 -> 7.47 s steady.
    """
    *mid, last = hop_colls
    if terminal is None:
        terminal = terminal_stats(edges, last)
    spark = terminal.sparkSession
    # Bitmap partial states are ~512B objects aggregated by
    # ObjectHashAggregate, whose default sort-based fallback (128 keys)
    # would sort every bitmap-carrying row. 128k keys x 512B caps the
    # per-task hash state at ~64MB -- executor-safe at any scale, and
    # group counts per task stay far below it under hash partitioning.
    spark.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072"
    )
    w = k_hop(edges, start, mid, carry_path=False)
    if compress_frontier:
        w = w.groupBy("v0_coll", "v0_key", "node_coll", "node_key").agg(
            F.count(F.lit(1)).alias("_m")
        )
        np_expr = F.sum(F.col("_m") * F.col("_deg"))
    else:
        np_expr = F.sum(F.col("_deg"))
    per_bucket = (
        w.join(terminal, ["node_coll", "node_key"])
        .groupBy("v0_coll", "v0_key", "_bkt")
        .agg(
            F.bitmap_or_agg("_bm").alias("_bm"),
            np_expr.alias("_np"),
        )
    )
    return per_bucket.groupBy("v0_coll", "v0_key").agg(
        F.sum("_np").alias("n_paths"),
        F.sum(F.bitmap_count("_bm")).alias("n_terminals"),
    )


def path_fold(
    edges: DataFrame | dict[str, DataFrame],
    start: DataFrame,
    hop_colls: list[str],
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted path aggregation over a directed typed-path traversal,
    folded hop by hop -- paths are never materialized at ANY hop.

    Semantically: over every exact-length path ``start -> ... ->
    hop_colls[-1]``, the path weight is the SUM of its edge weights
    (``weight_col``, integral for exact cross-engine results); returns
    per start vertex the path count and the sum of path weights:
    (v0_coll, v0_key, n_paths, total_weight).

    The fold carries, per (start, frontier-node), the pair
    (m = #paths, s = sum of path weights so far) and transitions over an
    edge of weight w as (m, s) -> (m, s + m*w), summed over in-edges --
    the matrix-chain product over the (count, sum) semiring.
    ``k_hop_counts`` is the distinct-terminal sibling; use this one when
    the answer is a per-start aggregate of edge values (revenue along
    paths, hop latency totals). Largest intermediate: the aggregated
    frontier (start x nodes-at-level), never the path set -- the same
    reason a 10^9-path traversal is safe that SCALE.md's traversal
    section gives for counting.
    """
    cur = start.select(
        F.col("coll").alias("v0_coll"),
        F.col("key").alias("v0_key"),
        F.col("coll").alias("node_coll"),
        F.col("key").alias("node_key"),
        F.lit(1).cast("long").alias("_m"),
        F.lit(0).cast("long").alias("_s"),
    )
    if not hop_colls:
        return cur.groupBy("v0_coll", "v0_key").agg(
            F.sum("_m").alias("n_paths"), F.sum("_s").alias("total_weight")
        )
    for coll in hop_colls[:-1]:
        hop = _hop_edges(edges, coll).select(
            F.col("src_coll").alias("node_coll"),
            F.col("src_key").alias("node_key"),
            F.col("dst_coll").alias("h_dc"),
            F.col("dst_key").alias("h_dk"),
            F.col(weight_col).alias("_w"),
        )
        cur = (
            cur.join(hop, ["node_coll", "node_key"])
            .groupBy(
                "v0_coll",
                "v0_key",
                F.col("h_dc").alias("node_coll"),
                F.col("h_dk").alias("node_key"),
            )
            .agg(
                F.sum("_m").alias("_m"),
                F.sum(F.col("_s") + F.col("_m") * F.col("_w")).alias("_s"),
            )
        )
    # The LAST hop's per-frontier-node grouping is discarded by the
    # final per-start aggregation immediately after, so fuse the two:
    # join the last edge relation and aggregate straight to v0 (sum is
    # associative -- identical results, one exchange + one aggregation
    # fewer over the widest frontier; r12, guide §2.4). Measured
    # q_path_revenue 2.12 -> 1.38 s interleaved rebuild median at
    # sf0.1, rows identical.
    hop = _hop_edges(edges, hop_colls[-1]).select(
        F.col("src_coll").alias("node_coll"),
        F.col("src_key").alias("node_key"),
        F.col(weight_col).alias("_w"),
    )
    return (
        cur.join(hop, ["node_coll", "node_key"])
        .groupBy("v0_coll", "v0_key")
        .agg(
            F.sum("_m").alias("n_paths"),
            F.sum(F.col("_s") + F.col("_m") * F.col("_w")).alias("total_weight"),
        )
    )


def hierarchy_longest_path(
    edges: DataFrame,
    start: DataFrame,
    label: str | None = None,
    max_depth: int = 64,
) -> DataFrame:
    """J11 + W1: variable-depth OUTBOUND walk, longest path per start.

    Mirrors the AQL hierarchy extension: ``FOR v, e, p1 IN 1..64 OUTBOUND
    ... PRUNE e.Label NOT IN [@edgeLabel] ... SORT LENGTH(p1.edges) DESC
    LIMIT 1`` (``AqlQuerySetBuilder.java:88-117``). The PRUNE becomes a
    pre-loop filter of the edge set; the per-start top-1 becomes a window.

    Implementation: driver-side frontier-expansion loop (the one operator
    that genuinely needs iteration, SURVEY.md section 4). Each iteration
    is a single equi-join, and each round's frontier is
    localCheckpointed eagerly, so no round re-executes an earlier join.
    Checkpointing every 4th round instead was measured 2x slower at the
    30x corpus (5.9 s vs 11.5 s, BENCH_NOTES r7): each round already
    runs a blocking isEmpty probe, so a deferred checkpoint saves no
    barrier and makes the probe, the next rounds' joins and the final
    union recompute the uncheckpointed join chain. Ties on depth break by
    lexicographically smallest path string, so results are deterministic.
    Cycle safety: a path never revisits its own vertices (checked with
    array_contains), matching AQL's default path uniqueness.
    """
    e = edges if label is None else edges.filter(F.col("label") == label)
    e = (
        e.select(
            F.concat_ws("_", "src_coll", "src_key").alias("src"),
            F.concat_ws("_", "dst_coll", "dst_key").alias("dst"),
        )
        # Cache layout = join layout (same as q_khop_paths): every
        # iteration joins on e.src, so a src-partitioned cache satisfies
        # the join distribution and only the frontier shuffles per hop.
        .repartition(F.col("src"))
        .persist()
    )

    frontier = start.select(
        F.concat_ws("_", "coll", "key").alias("start"),
        F.concat_ws("_", "coll", "key").alias("node"),
        F.lit(0).alias("depth"),
        F.concat_ws("_", "coll", "key").alias("path"),
        F.array(F.concat_ws("_", "coll", "key")).alias("visited"),
    )
    all_paths = frontier
    depth = 0
    while depth < max_depth:
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .filter(~F.array_contains(F.col("visited"), F.col("dst")))
            .select(
                "start",
                F.col("dst").alias("node"),
                (F.col("depth") + 1).alias("depth"),
                F.concat_ws("/", "path", "dst").alias("path"),
                F.concat(F.col("visited"), F.array(F.col("dst"))).alias("visited"),
            )
        ).localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        all_paths = all_paths.union(nxt)
        frontier = nxt
        depth += 1

    e.unpersist()
    w = Window.partitionBy("start").orderBy(F.desc("depth"), "path")
    return (
        all_paths.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("start", "depth", "path")
    )


def triangle_counts(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list --
    the cluster-density signal on a near-dup pair graph (triangle-rich
    components are template families, not chance collisions).

    Degree-ordered edge orientation (Suri & Vassilvitskii, "Counting
    triangles and the curse of the last reducer", WWW'11): each edge is
    directed from its lower-(degree, id) endpoint to the higher, and a
    triangle is found exactly once, at its lowest-ordered vertex. This
    bounds per-vertex wedge generation by O(m^1.5) total regardless of
    degree skew -- a celebrity vertex of degree d contributes wedges
    only for its (few) higher-ordered neighbors, never d^2 pairs. The
    triangle SET is orientation-independent, so a naive id-ordered SQL
    formulation (the oracle) returns identical per-vertex counts.

    Input edges may carry duplicates or both directions; they are
    canonicalized (min, max) and deduped first. Returns
    (id, n_triangles) for vertices in at least one triangle.

    ``max_degree`` drops every vertex whose (pre-cap) degree exceeds the
    cap from the edge set -- the same discipline as the LSH
    ``max_bucket`` guard. On near-dup graphs the degenerate structure
    is a template-family clique: a c-member family contributes C(c,3)
    triangles of near-zero information while dominating the wedge work
    (measured: the radius-1 graph of the 10x corpus has 3575-degree
    hubs and exceeds 10 minutes uncapped; capped at 100 it completes in
    seconds). The cap is applied identically in oracle SQL, so capped
    results remain exactly gateable.

    Shuffles: edge dedup, degree agg, two hash joins on vertex keys,
    final per-vertex count -- all on bounded keys, no all-pairs work.
    The canonical edge set and the oriented edge list are persisted:
    they are each referenced by multiple joins, and recomputing them
    would re-run the (often expensive) upstream pair generation once
    per reference. Nothing releases them: the CacheManager holds a
    persisted relation until ``unpersist`` is called, whether or not
    the returned plan is still referenced, so each call leaves both
    entries cached.
    """
    a, b = F.col(a_col), F.col(b_col)
    e = (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge from lower (deg, id) to higher (deg, id).
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    if max_degree is not None:
        ed = ed.filter(
            (F.col("du") <= max_degree) & (F.col("dv") <= max_degree)
        )
    fwd = F.struct(F.col("du").alias("d"), F.col("u").alias("n")) < F.struct(
        F.col("dv").alias("d"), F.col("v").alias("n")
    )
    d1 = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).persist()
    # Wedges at the lowest-ordered vertex: src -> x, src -> y with
    # (deg, id) of x below y; close with the directed edge x -> y.
    e1 = d1.select(F.col("src"), F.col("dst").alias("x"), F.col("ddst").alias("dx"))
    e2 = d1.select(F.col("src"), F.col("dst").alias("y"), F.col("ddst").alias("dy"))
    wedge = e1.join(e2, "src").filter(
        F.struct(F.col("dx").alias("d"), F.col("x").alias("n"))
        < F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    )
    closing = d1.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedge.join(closing, ["x", "y"]).select("src", "x", "y")
    pv = (
        tri.select(F.col("src").alias("id"))
        .unionAll(tri.select(F.col("x").alias("id")))
        .unionAll(tri.select(F.col("y").alias("id")))
    )
    return pv.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficient(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-vertex local clustering coefficient over an undirected edge
    list, in integer permille: 2000 * triangles(v) div (deg(v) *
    (deg(v) - 1)) for every vertex with degree >= 2. On a near-dup
    pair graph this separates template FAMILIES (coefficient near
    1000: neighbors also pair with each other — a clique of near-copies)
    from chained hubs (coefficient near 0: a boilerplate document that
    pairs with many mutually-unrelated documents) — the per-vertex
    refinement of the corpus-level triangle signal.

    ``max_degree`` caps on the PRE-cap degree exactly as
    ``triangle_counts`` does (same edge set, so the two operators
    compose); the coefficient's denominator is the POST-cap degree —
    the degree of the graph actually counted, so 2*T(v) <=
    deg(v)*(deg(v)-1) holds by construction and the permille stays in
    [0, 1000].

    Shuffles: canonical-edge dedup, two degree aggs (pre-cap gate +
    post-cap denominator), the triangle machinery's two vertex-key
    joins, one final left join — all on vertex/edge keys, wedge work
    degree-orientation-bounded; no all-pairs work. The capped canonical
    edge set is persisted once and feeds both the degree agg and the
    triangle count.
    """
    a, b = F.col(a_col), F.col(b_col)
    e = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if max_degree is not None:
        pre = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") <= max_degree)
            .select("id")
        )
        e = (
            e.join(pre.withColumnRenamed("id", "u"), "u")
            .join(pre.withColumnRenamed("id", "v"), "v")
            .select("u", "v")
        )
    e = e.persist()
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(e, "u", "v", max_degree=None)
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "id", "left")
        .select(
            "id",
            F.col("degree").cast("long").alias("degree"),
            t.alias("n_triangles"),
            F.expr(
                "(2000 * coalesce(n_triangles, 0))"
                " div (degree * (degree - 1))"
            ).alias("coeff_permille"),
        )
    )


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping_permille: int = 850,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic: scores are
    maintained as integers scaled by ``scale``, each contribution is
    floor(score / outdegree), and each update is a single floor division

        score' = ((1000 - d) * scale + d * sum(contribs)) div 1000

    so every intermediate is a bounded BIGINT and the result is
    bit-identical in any engine with integer division -- the same
    determinism doctrine as the integer-cents money aggregates
    (plans/registry.py docstring). Floating-point PageRank cannot be
    oracle-gated: double summation order differs between engines.

    Fixed small ``iters`` (default 3) is the curation use: a few
    propagation rounds already separate template-family hubs from
    periphery on a near-dup graph; convergence runs are a tuning knob,
    not a different algorithm. Dangling nodes (no out-edges) leak their
    mass -- the standard simplification; graphs built from undirected
    pair lists (both directions inserted) have none.

    Scale shape per iteration (r6: cache layout = join layout, the
    khop doctrine applied to the loop): the out-degree is folded into
    the persisted edge relation ONCE -- (src, dst, outdeg) repartitioned
    and sorted on src -- so each round is exactly one node-sized
    exchange of the scores to src, one aggregation shuffle on dst, and
    a layout-reusing left join back to the node set (nodes persisted
    partitioned on id; the post-agg increments already share that
    hash layout). The r5 loop additionally re-joined the degree table
    and re-shuffled the edge side every round -- one reclaimed exchange
    per iteration over the LARGEST relation in the loop, plus the
    removed per-round deg join. State is one row per node; no
    iteration-over-collect, no driver-side graph.

    The edge+degree relation and node set are persisted: the iteration
    loop references each every round, and recomputing them would re-run
    the (often expensive) upstream edge derivation iters-fold. Nothing
    releases them (as in triangle_counts): each call leaves the raw
    edges, the edge+degree relation and the node set cached until
    ``unpersist`` is called on them.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if not 0 <= damping_permille <= 1000:
        raise ValueError(
            f"damping_permille must be in [0, 1000], got {damping_permille}"
        )
    # The raw edge list is persisted FIRST: ed2, deg, and the node set
    # each read it, and without the cache the (often expensive)
    # upstream edge derivation would re-run for every consumer in the
    # cold build -- measured 4x the simhash-pair pipeline on the 10x
    # corpus.
    ed = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    deg = ed.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # One wide persisted relation, laid out for the per-round join: the
    # extra 8 bytes/row buys removing a join + an edge-side exchange
    # from EVERY iteration.
    ed2 = (
        ed.join(deg, "src")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    nodes = (
        ed.select(F.col("src").alias("id"))
        .union(ed.select(F.col("dst").alias("id")))
        .distinct()
        .repartition("id")
        .persist()
    )
    base = (1000 - damping_permille) * scale
    scores = nodes.select("id", F.lit(scale).cast("long").alias("score"))
    for _ in range(iters):
        contrib = ed2.join(
            scores.withColumnRenamed("id", "src"), "src"
        ).select(
            F.col("dst").alias("id"),
            F.expr("score div outdeg").alias("contrib"),
        )
        inc = contrib.groupBy("id").agg(F.sum("contrib").alias("inc"))
        scores = (
            nodes.join(inc, "id", "left")
            .select(
                "id",
                F.expr(
                    f"CAST(({base} + {damping_permille} * coalesce(inc, 0)) "
                    "div 1000 AS BIGINT)"
                ).alias("score"),
            )
        )
    return scores


def label_propagation(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    iters: int = 2,
) -> DataFrame:
    """Community detection by DETERMINISTIC synchronous label
    propagation over an undirected edge list: every vertex starts with
    its own id as label; each round it adopts the label most frequent
    among its neighbours, ties broken toward the SMALLEST label, and
    keeps its current label only if it has no neighbours. Returns
    (id, label).

    Classic LPA is notoriously non-deterministic (random update order,
    random tie-breaks) and therefore unauditable; this formulation is a
    pure function of the graph -- synchronous rounds, exact counts,
    total (count desc, label asc) order -- so the same input yields the
    same communities on any engine or partitioning, and the whole
    operator gates against an unrolled-CTE SQL oracle (the integer
    PageRank discipline applied to community detection). Distinct from
    ``dedup.connected_components``: components unify everything
    reachable, LPA splits a connected graph into locally dense
    communities (template families inside one giant near-dup
    component).

    Scale shape per round: one join of the (persisted, both-direction)
    edge list with the current labels on src, one (dst, label) count
    aggregation -- key space bounded by edge endpoints -- one
    windowless argmax via min(struct(-n, label)) with map-side partial
    aggregation, and one left join back to the node set (isolated or
    dangling vertices keep their label). State is one row per vertex.
    Skew: a celebrity vertex aggregates its neighbour labels with
    partial aggregation, never a per-vertex array.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    a, b = F.col(a_col), F.col(b_col)
    und = edges.select(a.alias("src"), b.alias("dst")).unionAll(
        edges.select(b.alias("src"), a.alias("dst"))
    )
    # The edge cache is deliberately NOT re-laid-out on the join key:
    # the label side is node-sized and broadcasts (AQE), so each
    # round's join already streams the cached edges with zero edge-side
    # exchange -- an explicit repartition("dst")+sort was A/B-measured
    # at the 30x corpus and LOST (25.5 s -> 94.8 s: it adds a 63M-row
    # exchange+sort to the build and buys nothing the broadcast didn't
    # already give). Contrast pagerank_integer, where folding outdeg
    # into a src-laid-out cache removes a real per-round join.
    ed = und.dropDuplicates().filter(F.col("src") != F.col("dst")).persist()
    nodes = ed.select(F.col("src").alias("id")).distinct().persist()
    labels = nodes.select("id", F.col("id").alias("label"))
    for _ in range(iters):
        neigh = ed.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "label")
        counted = neigh.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("n")
        )
        # argmax(count) with smallest-label ties: min over the struct
        # (-n, label) -- an aggregate, not a window, so partial
        # aggregation bounds every task's state
        best = (
            counted.groupBy("id")
            .agg(F.min(F.struct((-F.col("n")).alias("neg"), "label")).alias("m"))
            .select("id", F.col("m.label").alias("new_label"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id", F.coalesce("new_label", "label").alias("label")
            )
        )
    return labels


def _frame_under_bytes(df: DataFrame, budget: int) -> bool:
    """True when ``df``'s optimizer size estimate fits ``budget``
    bytes. Used to gate explicit broadcast hints: a hint bypasses
    AQE's own size check, so it must only be issued for frames the
    driver can actually hold (ADVICE r8, kcore). Fails CLOSED --
    unreadable stats mean no hint, and AQE decides from runtime
    sizes."""
    try:
        return (
            int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            <= budget
        )
    except Exception:
        return False


def kcore_members(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    k: int = 2,
    iters: int = 3,
    broadcast_threshold: int = 64 << 20,
) -> DataFrame:
    """k-core membership after ``iters`` synchronous peeling rounds
    over an undirected edge list: each round recomputes every vertex's
    degree within the current survivor set and drops vertices with
    degree < k. Returns (id, deg) -- the final round's in-core degree
    -- for vertices still alive after the last round. The k-core is the
    fixpoint; a FIXED round count keeps the operator a pure function of
    (graph, k, iters) gateable against an unrolled-CTE oracle (the
    pagerank/label_propagation discipline), and in a near-dup graph the
    peeling stabilizes in a few rounds (template families are dense;
    stragglers are trees). Vertices in the k-core survive every
    truncation, so early truncation only over-approximates -- it never
    drops a true core member.

    Scale shape (r8, the PageRank degree-folding trick per VERDICT r7
    #7): round 1 pays ONE full src-keyed count over the persisted
    both-direction edge list; every later round updates degrees
    DECREMENTALLY -- deg_{t+1}(v) = deg_t(v) - |edges from v into the
    round's DROPPED set|.  The dropped set (vertices whose degree fell
    below k) is tiny and each of its members holds < k surviving
    edges, so the per-round aggregation shrinks from a 2|E|-row count
    to at most k*|dropped| rows flowing out of one broadcast-semi-
    joined edge scan; the node-sized degree frame then merges the
    decrements with a broadcast left join.  The broadcast hints are
    GATED per round (ADVICE r8): round 1's dropped set is every vertex
    with degree < k, which for large k or a sparse graph can approach
    |V| -- an unconditional hint would bypass AQE's size check and can
    OOM the driver.  The gate reads the checkpointed degree frame's
    plan-stat size (exact after eager localCheckpoint, no job) against
    ``broadcast_threshold`` bytes; the dropped and decrement frames
    are subsets/aggregates of it, so a degree frame under the budget
    bounds both.  Above the budget -- or when stats are unreadable --
    the joins go in UNHINTED (fail closed) and AQE picks the
    shuffle/broadcast strategy from runtime sizes; the algebra is
    hint-independent.  Equivalence to the
    recompute form is exact (deg_t counts edges into S_t, and
    S_t \\ S_{t+1} is precisely the dropped set), pinned by the
    unrolled-CTE oracle.  State is one row per surviving vertex; a
    celebrity vertex is a count, never an array.  Each round's degree
    frame is eagerly localCheckpointed (the khop-frontier discipline):
    it feeds BOTH the dropped set and the next merge, so an
    unmaterialized lineage would re-execute every earlier round
    2^rounds times -- measured as a >12-minute stall at the 30x corpus
    (63M-edge graph) before the checkpoint.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    a, b = F.col(a_col), F.col(b_col)
    und = edges.select(a.alias("src"), b.alias("dst")).unionAll(
        edges.select(b.alias("src"), a.alias("dst"))
    )
    ed = und.dropDuplicates().filter(F.col("src") != F.col("dst")).persist()
    # Round 1: the one full-graph degree count (S_0 = every vertex, so
    # the recompute form's survivor semi-joins are no-ops here).
    deg = ed.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    for _t in range(1, iters):
        deg = deg.localCheckpoint(eager=True)
        small = _frame_under_bytes(deg, broadcast_threshold)
        hint = F.broadcast if small else (lambda df: df)
        dropped = deg.filter(F.col("deg") < k).select(
            F.col("src").alias("dst")
        )
        dec = (
            ed.join(hint(dropped), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        deg = (
            deg.filter(F.col("deg") >= k)
            .join(hint(dec), "src", "left")
            .select(
                "src",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias(
                    "deg"
                ),
            )
        )
    return deg.filter(F.col("deg") >= k).select(
        F.col("src").alias("id"), F.col("deg")
    )


def modularity(
    edges: DataFrame | None,
    labels: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    degrees: DataFrame | None = None,
    intra: DataFrame | None = None,
) -> DataFrame:
    """Newman modularity of a vertex partition over an undirected
    simple graph, as ONE summary row -- the standard quality score for
    community assignments (label_propagation's output): fraction of
    edges inside communities minus the fraction expected under the
    degree-preserving null model,

        Q = sum_c [ e_c / m  -  (D_c / 2m)^2 ]

    with m = |edges|, e_c = intra-community edges, D_c = total degree
    of community c. Emitted integer-exactly as

        q_ppm = floor(1e6 * S / (4 m^2)),  S = sum_c (4 m e_c - D_c^2)

    where S, m are exact integers and the division is one final IEEE
    double op (the fixed-shape doctrine), so the score gates
    bit-for-bit against the SQL oracle.

    ``labels`` is (id, label) covering every edge endpoint. Returns
    (m, n_vertices, n_communities, intra_edges, q_ppm).

    ``degrees`` (id, d) and ``intra`` (label, e_in) are materialized
    rollups that replace the per-edge degree count and the per-edge
    label join; with both supplied, ``edges`` may be None.

    Plan shape: edges are deduplicated once (the same canonical a<b
    pair form the detectors emit); degrees come from one count over the
    doubled edge list; the two label lookups broadcast the node-sized
    label frame under AQE so the edge list never shuffles; everything
    then collapses through per-label partial aggregation to |labels|
    rows and one global 1-row fold. At 100 TB the exchanged state is
    |communities| rows.

    Both input frames are persisted AND eagerly filled (count()) before
    the metric plan fans out: the edge list feeds three consumers (m,
    degrees, the intra join) and the labels feed three joins -- with a
    lazy persist the concurrent subtrees race the cache and re-derive
    the upstream detector (pair generation + LPA) per consumer,
    measured 286 s cold vs 6 s warm on the 30x near-dup graph. persist
    (not localCheckpoint) keeps CacheManager plan-normalization reuse,
    so a rebuilt identical plan serves from the same cache instead of
    re-running the detector.
    """
    if edges is None:
        if degrees is None or intra is None:
            raise ValueError(
                "modularity: edges may only be omitted when both degrees "
                "and intra are supplied (the fully-materialized metric path)"
            )
        # The metric then reads no per-edge data at all; m comes from
        # the sum-of-degrees identity below.
        e = None
    else:
        a, b = F.col(a_col), F.col(b_col)
        e = (
            edges.select(
                F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        ).persist()
        e.count()
    lab = labels.select(F.col("id"), F.col("label")).persist()
    lab.count()
    # One explode pass over the cached edge list instead of a two-scan
    # union (same doubled rows, half the cache scans). ``degrees``
    # short-circuits it (VERDICT r9 #6): the (id, d) frame is |V|-sized
    # and as materializable as the labels -- q_modularity passes the
    # persisted table so a cold call re-derives neither.
    deg = (
        degrees.select("id", "d")
        if degrees is not None
        else (
            e.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    )
    # Persisted: consumed by both the per-community frame and the
    # handshake-identity m below; |labels| rows. The m broadcast build
    # runs first (driver blocks on it), filling this cache before the
    # main job's join reads it -- no lazy-cache race.
    d_c = (
        deg.join(lab, "id")
        .groupBy("label")
        .agg(F.sum("d").alias("d_sum"))
    ).persist()
    # ``intra`` short-circuits the per-edge label join (r10): with
    # labels, degrees, AND the (label, e_in) rollup all materialized
    # snapshot products, the metric touches no per-edge data at all --
    # |communities|-row arithmetic only (the 30x profile put this join
    # at 13 s of the 20 s cold; plans/materialized.
    # community_stats_frame is the once-per-snapshot build).
    e_c = (
        intra.select("label", "e_in")
        if intra is not None
        else (
            e.join(
                lab.select(F.col("id").alias("u"), F.col("label").alias("la")),
                "u",
            )
            .join(
                lab.select(F.col("id").alias("v"), F.col("label").alias("lb")),
                "v",
            )
            .filter(F.col("la") == F.col("lb"))
            .groupBy(F.col("la").alias("label"))
            .agg(F.count(F.lit(1)).alias("e_in"))
        )
    )
    # m from the handshake identity over the per-community degree sums
    # (every edge contributes exactly 2 to total degree; labels cover
    # every endpoint) -- |labels|-row input instead of another full
    # edge-set pass. Integer `div`, not double division (ADVICE r9):
    # sum(d_sum) is a long and always even under the canonical
    # contract, so `div 2` is exact at any scale -- the double round
    # trip was only exact below 2^53 total degree.
    m_df = d_c.agg(F.expr("sum(d_sum) div 2").cast("long").alias("m"))
    n_v = lab.agg(F.count(F.lit(1)).alias("n_vertices"))
    per = (
        d_c.join(e_c, "label", "left")
        .select(
            "label",
            F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
            "d_sum",
        )
        .crossJoin(F.broadcast(m_df))
        .select(
            "m",
            "e_in",
            (
                4 * F.col("m") * F.col("e_in")
                - F.col("d_sum") * F.col("d_sum")
            ).alias("s_c"),
        )
    )
    return (
        per.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("e_in").alias("intra_edges"),
            F.sum("s_c").alias("s"),
        )
        .crossJoin(F.broadcast(n_v))
        .select(
            "m",
            "n_vertices",
            "n_communities",
            "intra_edges",
            F.floor(
                1000000.0
                * F.col("s").cast("double")
                / (4.0 * F.col("m").cast("double") * F.col("m").cast("double"))
            )
            .cast("long")
            .alias("q_ppm"),
        )
    )
