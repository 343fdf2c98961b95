"""Unit tests for the property-graph operators (tuples -> graph -> k-hop
-> hierarchy walk), mirroring the reference's OntologyParserLoader tests
(vertex/edge doc construction, list promotion, traversal)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators.graph import (
    graph_from_tuples,
    hierarchy_longest_path,
    k_hop,
    undirected,
)


def tuples_df(spark):
    rows = [
        # edge triples (URI-ish object)
        ("CL_1", "subClassOf", "CL_2", None),
        ("CL_2", "subClassOf", "CL_3", None),
        ("CL_1", "part_of", "UBERON_9", None),
        # literal attribute triples -- duplicate predicate promotes to list
        ("CL_1", "label", "macrophage", None),
        ("CL_1", "synonym", "histiocyte", None),
        ("CL_1", "synonym", "resident macrophage", None),
        # quad: edge annotation
        ("CL_1", "source", "CL_2", "PMID:1234"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string, lit string")


def test_graph_assembly_vertices_edges(spark):
    g = graph_from_tuples(tuples_df(spark))
    verts = {(r.coll, r.key) for r in g["vertices"].collect()}
    assert ("CL", "1") in verts and ("UBERON", "9") in verts and ("CL", "3") in verts
    edges = {
        (r.src_coll, r.src_key, r.dst_coll, r.dst_key, r.label)
        for r in g["edges"].collect()
    }
    assert ("CL", "1", "CL", "2", "subClassOf") in edges
    assert ("CL", "1", "UBERON", "9", "part_of") in edges
    assert len(edges) == 3


def test_attr_list_promotion(spark):
    # Python reference semantics: duplicate predicate -> deduped list
    # (OntologyParserLoader.py:913-921).
    g = graph_from_tuples(tuples_df(spark))
    attrs = {
        (r.coll, r.key, r.attr): r.values for r in g["vertex_attrs"].collect()
    }
    assert attrs[("CL", "1", "label")] == ["macrophage"]
    assert attrs[("CL", "1", "synonym")] == ["histiocyte", "resident macrophage"]


def test_edge_attrs_from_quads(spark):
    g = graph_from_tuples(tuples_df(spark))
    ea = g["edge_attrs"].collect()
    assert len(ea) == 1
    assert ea[0].attr == "source" and ea[0].values == ["PMID:1234"]


def test_split_edge_annotations_skips_dangling(spark):
    """Quadruple semantics: annotations for nonexistent edges drop with
    an inspectable per-collection-pair metric (skip-with-metric; the
    reference's Python loader skips silently, the Java one throws)."""
    from cell_kn_mvp_etl_results_spark.operators.graph import split_edge_annotations

    rows = [
        ("CL_1", "subClassOf", "CL_2", None),
        ("CL_1", "source", "CL_2", "PMID:1"),      # annotates a real edge
        ("CL_1", "source", "CL_404", "PMID:2"),    # dangling: no such edge
        ("GO_7", "evidence", "CL_404", "IEA"),     # dangling, other pair
    ]
    g = graph_from_tuples(
        spark.createDataFrame(rows, "s string, p string, o string, lit string")
    )
    kept, dangling = split_edge_annotations(g["edge_attrs"], g["edges"])
    k = kept.collect()
    assert len(k) == 1 and k[0].dst_key == "2" and k[0].values == ["PMID:1"]
    d = {(r.src_coll, r.dst_coll): r.n_skipped for r in dangling.collect()}
    assert d == {("CL", "CL"): 1, ("GO", "CL"): 1}


def test_k_hop_typed_path(spark):
    g = graph_from_tuples(tuples_df(spark))
    start = spark.createDataFrame([("CL", "1")], "coll string, key string")
    paths = k_hop(g["edges"], start, ["CL", "CL"]).collect()
    assert len(paths) == 1
    assert paths[0].path == ["CL_1", "CL_2", "CL_3"]
    assert paths[0].labels == ["subClassOf", "subClassOf"]


def test_k_hop_any_direction(spark):
    g = graph_from_tuples(tuples_df(spark))
    # Inbound hop: from CL_2 back to CL_1 only reachable ANY-direction.
    start = spark.createDataFrame([("CL", "2")], "coll string, key string")
    none_out = k_hop(g["edges"], start, ["UBERON"]).collect()
    assert none_out == []
    via_any = k_hop(g["edges"], start, ["CL", "UBERON"], any_direction=True).collect()
    assert [p.path for p in via_any] == [["CL_2", "CL_1", "UBERON_9"]]


def test_k_hop_unique_edges_no_bounce_back(spark):
    # AQL default uniqueEdges=path: an ANY-direction traversal cannot
    # return over the edge it arrived on.
    g = graph_from_tuples(tuples_df(spark))
    start = spark.createDataFrame([("CL", "1")], "coll string, key string")
    bounced = k_hop(g["edges"], start, ["CL", "CL"], any_direction=True)
    paths = {tuple(p.path) for p in bounced.collect()}
    assert ("CL_1", "CL_2", "CL_1") not in paths  # same edge twice: pruned
    assert ("CL_1", "CL_2", "CL_3") in paths
    relaxed = k_hop(
        g["edges"], start, ["CL", "CL"], any_direction=True, unique_edges=False
    )
    assert ("CL_1", "CL_2", "CL_1") in {tuple(p.path) for p in relaxed.collect()}


def test_undirected_doubles_edges(spark):
    g = graph_from_tuples(tuples_df(spark))
    assert undirected(g["edges"]).count() == 2 * g["edges"].count()


def test_hierarchy_longest_path_label_filter_and_tiebreak(spark):
    rows = [
        ("A", "1", "A", "2", "isa"),
        ("A", "2", "A", "3", "isa"),
        ("A", "2", "A", "4", "isa"),  # tie at depth 2: A_3 vs A_4 -> min path
        ("A", "1", "A", "9", "other"),  # wrong label: pruned pre-loop
    ]
    edges = spark.createDataFrame(
        rows, "src_coll string, src_key string, dst_coll string, dst_key string, label string"
    )
    start = spark.createDataFrame([("A", "1")], "coll string, key string")
    out = hierarchy_longest_path(edges, start, label="isa", max_depth=64).collect()
    assert len(out) == 1
    assert out[0].depth == 2
    assert out[0].path == "A_1/A_2/A_3"


def test_hierarchy_depth_cap(spark):
    """The 1..64 depth cap (AqlQuerySetBuilder.java:96): a 70-deep chain
    stops at depth 64."""
    rows = [("A", str(i), "A", str(i + 1), "isa") for i in range(70)]
    edges = spark.createDataFrame(
        rows,
        "src_coll string, src_key string, dst_coll string, dst_key string, label string",
    )
    start = spark.createDataFrame([("A", "0")], "coll string, key string")
    out = hierarchy_longest_path(edges, start, label="isa", max_depth=64).collect()
    assert out[0].depth == 64
    assert out[0].path.endswith("/A_64")


def test_hierarchy_cycle_safety(spark):
    rows = [
        ("A", "1", "A", "2", "isa"),
        ("A", "2", "A", "1", "isa"),  # cycle back
    ]
    edges = spark.createDataFrame(
        rows, "src_coll string, src_key string, dst_coll string, dst_key string, label string"
    )
    start = spark.createDataFrame([("A", "1")], "coll string, key string")
    out = hierarchy_longest_path(edges, start, label="isa", max_depth=64).collect()
    # Path must stop after visiting A_2 (cannot revisit A_1).
    assert out[0].depth == 1 and out[0].path == "A_1/A_2"


def test_literal_dispatch_modes(spark):
    """ADVICE r1: a literal value shaped like a CURIE ("Homo_sapiens")
    must not become a phantom edge when the caller provides the exact
    is_literal signal; without it the shape heuristic decides."""
    rows = [
        ("CL_1", "label", "Homo_sapiens", False),  # literal, CURIE-shaped
        ("CL_1", "part_of", "UBERON_2", True),
    ]
    # mode 1: threaded is_literal column (exact; no lit column either)
    t = spark.createDataFrame(
        [(s, p, o, not u) for s, p, o, u in rows],
        "s string, p string, o string, is_literal boolean",
    )
    g = graph_from_tuples(t)
    assert [ (r.label, r.dst_coll) for r in g["edges"].collect() ] == [("part_of", "UBERON")]
    attrs = {(r.attr, tuple(r.values)) for r in g["vertex_attrs"].collect()}
    assert ("label", ("Homo_sapiens",)) in attrs
    t2 = spark.createDataFrame(
        [(s, p, o, None) for s, p, o, _ in rows],
        "s string, p string, o string, lit string",
    )
    # mode 2 (fallback heuristic): documented misclassification
    g3 = graph_from_tuples(t2)
    assert {r.label for r in g3["edges"].collect()} == {"label", "part_of"}


def _counting_edges(spark):
    """Directed tri-layer graph with integer keys, multi-path fan-out,
    shared terminals, and a vertex with NO terminal edges."""
    rows = []
    # A_i -> B_j (i in 0..3): A_i connects to B_{i}, B_{i+1}
    for i in range(4):
        rows += [("A", i, "B", i, "ab"), ("A", i, "B", i + 1, "ab")]
    # B_j -> C_k: B_j -> C_{j % 3}, C_{(j+1) % 3}; B_4 has no out-edges
    for j in range(4):
        rows += [("B", j, "C", j % 3, "bc"), ("B", j, "C", (j + 1) % 3, "bc")]
    # a far-away terminal key exercises multi-bucket bitmaps
    rows += [("B", 0, "C", 99_999, "bc")]
    return spark.createDataFrame(
        rows, "src_coll string, src_key long, dst_coll string, dst_key long, label string"
    )


def test_k_hop_counts_matches_materializing_plan(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import k_hop_counts

    edges = _counting_edges(spark)
    start = spark.createDataFrame(
        [("A", i) for i in range(4)], "coll string, key long"
    )
    paths = k_hop(edges, start, ["B", "C"], carry_path=False)
    expected = {
        r["v0_key"]: (r["n_paths"], r["n_terminals"])
        for r in paths.groupBy("v0_key")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("node_key").alias("n_terminals"),
        )
        .collect()
    }
    got = {
        r["v0_key"]: (r["n_paths"], r["n_terminals"])
        for r in k_hop_counts(edges, start, ["B", "C"]).collect()
    }
    assert got == expected
    # sanity: the far bucket terminal is counted exactly once for A_0
    assert got[0][1] == len({0, 1, 2, 99_999} & {0, 1, 99_999, 2})


def test_k_hop_counts_compress_frontier_equivalent(spark):
    """compress_frontier only changes the plan, never the result --
    including on a multigraph where frontier multiplicity > 1 (two
    parallel A->B paths through distinct B rows is covered by the
    counting fixture's fan-out)."""
    from cell_kn_mvp_etl_results_spark.operators.graph import k_hop_counts

    edges = _counting_edges(spark)
    start = spark.createDataFrame(
        [("A", i) for i in range(4)], "coll string, key long"
    )
    on = sorted(map(tuple, k_hop_counts(edges, start, ["B", "C"]).collect()))
    off = sorted(
        map(
            tuple,
            k_hop_counts(
                edges, start, ["B", "C"], compress_frontier=False
            ).collect(),
        )
    )
    assert on == off


def test_k_hop_counts_single_hop(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import k_hop_counts

    edges = _counting_edges(spark)
    start = spark.createDataFrame([("A", 0), ("A", 3)], "coll string, key long")
    got = {
        r["v0_key"]: (r["n_paths"], r["n_terminals"])
        for r in k_hop_counts(edges, start, ["B"]).collect()
    }
    assert got == {0: (2, 2), 3: (2, 2)}


def test_path_fold_matches_materializing_sum(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import path_fold

    rows = []
    for i in range(3):
        rows += [("A", i, "B", i, "ab", 10 + i), ("A", i, "B", i + 1, "ab", 5)]
    for j in range(4):
        rows += [("B", j, "C", j % 2, "bc", 100 * j)]
    edges = spark.createDataFrame(
        rows,
        "src_coll string, src_key long, dst_coll string, dst_key long,"
        " label string, weight long",
    )
    start = spark.createDataFrame([("A", i) for i in range(3)], "coll string, key long")
    # materializing reference: enumerate paths, sum edge weights per path
    paths = k_hop(edges.drop("weight"), start, ["B", "C"], carry_path=True)
    w = {(r["src_coll"], r["src_key"], r["dst_coll"], r["dst_key"]): r["weight"]
         for r in edges.collect()}
    expected = {}
    for r in paths.collect():
        hops = r["path"]
        total = 0
        for a, b in zip(hops, hops[1:]):
            ac, ak = a.split("_"); bc, bk = b.split("_")
            total += w[(ac, int(ak), bc, int(bk))]
        n, s = expected.get(r["v0_key"], (0, 0))
        expected[r["v0_key"]] = (n + 1, s + total)
    got = {
        r["v0_key"]: (r["n_paths"], r["total_weight"])
        for r in path_fold(edges, start, ["B", "C"]).collect()
    }
    assert got == expected


def test_triangle_counts_k4_star_and_canonicalization(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4}: each vertex sits in C(3,2)=3 triangles. Edges are
    # given with duplicates and reversed directions to exercise
    # canonicalization. A star 10-{11,12,13} adds no triangles and its
    # vertices must not appear in the output.
    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (3, 4), (2, 4), (2, 4),
        (10, 11), (10, 12), (10, 13),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_chain_plus_one_triangle(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import triangle_counts

    # Path 1-2-3-4 plus closing edge 1-3: exactly one triangle {1,2,3}.
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "id_a long, id_b long"
    )
    out = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_pagerank_integer_cycle_is_fixed_point(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import pagerank_integer

    # Symmetric 3-cycle: every node has outdeg 1 and one incoming
    # contribution of its full score, so score = scale is a fixed point
    # of the integer update: (150e6 + 850 * 1e6) div 1000 = 1e6.
    ed = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    out = {r.id: r.score for r in pagerank_integer(ed, iters=4).collect()}
    assert out == {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}


def test_pagerank_integer_star_hand_computed(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import pagerank_integer

    # Undirected star: center 0 <-> leaves 1,2,3. Hand-unrolled integer
    # updates (floor at every division):
    #   iter1: center (150e6 + 850*3e6) div 1000          = 2_700_000
    #          leaf   (150e6 + 850*(1e6 div 3)) div 1000  =   433_333
    #   iter2: center (150e6 + 850*3*433333) div 1000     = 1_254_999
    #          leaf   (150e6 + 850*(2.7e6 div 3)) div 1000 =  915_000
    pairs = [(0, i) for i in (1, 2, 3)]
    ed = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    out = {r.id: r.score for r in pagerank_integer(ed, iters=2).collect()}
    assert out == {0: 1_254_999, 1: 915_000, 2: 915_000, 3: 915_000}


def test_triangle_counts_max_degree_drops_hub_cliques(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import triangle_counts

    # K5 clique on 1..5 (every vertex degree 4) + separate triangle
    # 10-11-12 (degree 2). Cap 3 removes every clique vertex but keeps
    # the sparse triangle intact.
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    df = spark.createDataFrame(
        k5 + [(10, 11), (11, 12), (10, 12)], "id_a long, id_b long"
    )
    full = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    capped = {r.id: r.n_triangles
              for r in triangle_counts(df, max_degree=3).collect()}
    assert full[1] == 6 and full[10] == 1          # C(4,2)=6 per K5 vertex
    assert capped == {10: 1, 11: 1, 12: 1}         # clique gone, triangle kept


def test_label_propagation_two_communities(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import label_propagation

    # two triangles joined by a single bridge edge -> two communities
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "id_a long, id_b long",
    )
    out = {r.id: r.label for r in label_propagation(edges, iters=3).collect()}
    assert len(out) == 6
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_label_propagation_deterministic_and_partition_invariant(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23 + 30) for i in range(25)], "id_a long, id_b long"
    )
    a = sorted(map(tuple, label_propagation(edges, iters=2).collect()))
    b = sorted(
        map(
            tuple,
            label_propagation(edges.repartition(9, "id_b"), iters=2).collect(),
        )
    )
    assert a == b


def test_label_propagation_iters_zero_is_identity(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r.id: r.label for r in label_propagation(edges, iters=0).collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_kcore_peels_trees_keeps_cores(spark):
    from cell_kn_mvp_etl_results_spark.operators import graph as gr

    # triangle {1,2,3} (a 2-core) with a pendant chain 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    out = {r.id: r.deg for r in gr.kcore_members(edges, k=2, iters=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # one round is not enough to peel the chain end-to-end: vertex 4
    # still counts the not-yet-removed 5 in round 1 and dies in round 2
    one = {r.id for r in gr.kcore_members(edges, k=2, iters=1).collect()}
    assert one == {1, 2, 3, 4}


def test_clustering_coefficient_hand_computed(spark):
    from cell_kn_mvp_etl_results_spark.operators.graph import (
        clustering_coefficient,
    )

    # K4 on {1,2,3,4} (every coeff 1000) + a star 10-{11,12,13}
    # (hub coeff 0; leaves degree 1, excluded) + pendant 4-5
    # (vertex 4: degree 4, still 3 triangles -> 2000*3 // 12 = 500).
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (2, 4),
        (10, 11), (10, 12), (10, 13),
        (4, 5), (5, 4),  # duplicate reversed direction: canonicalized
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {
        r.id: (r.degree, r.n_triangles, r.coeff_permille)
        for r in clustering_coefficient(df).collect()
    }
    assert out == {
        1: (3, 3, 1000),
        2: (3, 3, 1000),
        3: (3, 3, 1000),
        4: (4, 3, 500),
        10: (3, 0, 0),
    }
    # degree-1 vertices (5, 11, 12, 13) have no defined coefficient
    assert set(out) == {1, 2, 3, 4, 10}


def test_clustering_coefficient_max_degree_matches_triangles(spark):
    """The capped coefficient uses the SAME edge set as
    triangle_counts(max_degree=k): triangle columns must agree and the
    denominator must be the post-cap degree."""
    from cell_kn_mvp_etl_results_spark.operators.graph import (
        clustering_coefficient,
        triangle_counts,
    )

    # hub 0 connected to 1..6 (degree 7 > cap 3) riding on K3 {1,2,3}
    edges = [(0, i) for i in range(1, 7)] + [(1, 2), (2, 3), (1, 3), (0, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    cc = {
        r.id: (r.degree, r.n_triangles, r.coeff_permille)
        for r in clustering_coefficient(df, max_degree=3).collect()
    }
    tr = {
        r.id: r.n_triangles
        for r in triangle_counts(df, max_degree=3).collect()
    }
    # hub 0 dropped by the cap; K3 survives with post-cap degree 2
    assert cc == {1: (2, 1, 1000), 2: (2, 1, 1000), 3: (2, 1, 1000)}
    assert tr == {1: 1, 2: 1, 3: 1}


def test_graph_layer_decisions_have_one_home():
    """One statement per graph-layer decision: the term split regex
    lives only in ``operators/graph.split_term``, and typed edge
    relations are built only by ``operators/graph.typed_edges`` (no
    module keeps its own ``_khop_edge`` / ``_edges_1hop`` copy)."""
    import pathlib
    import re

    from cell_kn_mvp_etl_results_spark.operators import graph

    pkg = pathlib.Path(graph.__file__).resolve().parents[1]
    sources = {
        p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")
    }
    split_sites = {
        name: src.count("^[^_]*_") for name, src in sources.items() if "^[^_]*_" in src
    }
    assert split_sites == {"operators/graph.py": 1}
    copies = {
        name
        for name, src in sources.items()
        if re.search(r"^\s*def (_khop_edge|_edges_1hop)\b", src, re.M)
    }
    assert copies == set()
