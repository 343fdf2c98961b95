"""Tests for the typed-path query battery (J10/J11/T8 compiler) and the
report/version utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators.graph import graph_from_tuples
from cell_kn_mvp_etl_results_spark.plans.battery import (
    HierarchySpec,
    PathSpec,
    run_battery,
    run_path_spec,
    touched_edges,
)
from cell_kn_mvp_etl_results_spark.sources import reports
from cell_kn_mvp_etl_results_spark.sources.sinks import extract_subgraph


def graph(spark):
    rows = [
        # CS -> BMC -> GS, plus a GO hierarchy behind GS
        ("CS_c1", "HAS_MARKER_SET", "BMC_m1", None),
        ("BMC_m1", "PART_OF", "BGS_g1", None),
        ("GS_TP53", "PART_OF", "BMC_m1", None),
        ("GS_TP53", "INVOLVED_IN", "GO_1", None),
        ("GO_1", "subClassOf", "GO_2", None),
        ("GO_2", "subClassOf", "GO_3", None),
        ("CS_c1", "Source", "BMC_m1", "NSForest"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string, lit string")
    return graph_from_tuples(t)


def test_khop_any_direction_spec(spark):
    g = graph(spark)
    spec = PathSpec("CS-BMC-GS", anchor="CS", hops=["BMC", "GS"])
    paths = run_path_spec(g["vertices"], g["edges"], spec).collect()
    # ANY-direction: CS_c1 -> BMC_m1 -> (GS_TP53 via inbound PART_OF)
    assert [p.path for p in paths] == [["CS_c1", "BMC_m1", "GS_TP53"]]


def test_hierarchy_extension_spec(spark):
    g = graph(spark)
    spec = PathSpec(
        "CS-BMC-GS-GO+hier",
        anchor="CS",
        hops=["BMC", "GS", "GO"],
        hierarchy=HierarchySpec(label="subClassOf"),
    )
    paths = run_path_spec(g["vertices"], g["edges"], spec).collect()
    assert len(paths) == 1
    p = paths[0]
    assert p.path == ["CS_c1", "BMC_m1", "GS_TP53", "GO_1"]
    assert p.hierarchy_depth == 2
    assert p.hierarchy_path == "GO_1/GO_2/GO_3"


def test_battery_and_subgraph_extraction(spark):
    g = graph(spark)
    specs = [
        PathSpec("CS-BMC", anchor="CS", hops=["BMC"]),
        PathSpec("CS-BMC-BGS", anchor="CS", hops=["BMC", "BGS"]),
    ]
    out = run_battery(g["vertices"], g["edges"], specs)
    assert set(out) == {"CS-BMC", "CS-BMC-BGS", "_touched_edges"}
    sub = extract_subgraph(g["edges"], out["_touched_edges"], g["vertex_attrs"])
    edge_labels = {r.label for r in sub["edges"].collect()}
    assert edge_labels == {"HAS_MARKER_SET", "PART_OF"}
    verts = {(r.coll, r.key) for r in sub["vertices"].collect()}
    assert ("CS", "c1") in verts and ("BGS", "g1") in verts
    assert ("GO", "1") not in verts  # untouched by this battery


def test_touched_edges_undirected_orientation(spark):
    g = graph(spark)
    spec = PathSpec("BGS-back", anchor="BGS", hops=["BMC"])
    paths = run_path_spec(g["vertices"], g["edges"], spec)
    te = touched_edges(paths).collect()
    # path runs BGS->BMC (reverse of stored edge); endpoints reflect
    # traversal order, so subgraph extraction must try both orientations
    assert [(r.src_coll, r.dst_coll) for r in te] == [("BGS", "BMC")]


def test_subgraph_keeps_edge_crossed_backwards(spark):
    # CS-BMC-GS reaches GS_TP53 over the stored GS_TP53 -PART_OF-> BMC_m1
    # edge walked in reverse: the touched pair is (BMC_m1, GS_TP53), and
    # the stored edge must still be harvested.
    g = graph(spark)
    specs = [PathSpec("CS-BMC-GS", anchor="CS", hops=["BMC", "GS"])]
    out = run_battery(g["vertices"], g["edges"], specs)
    sub = extract_subgraph(g["edges"], out["_touched_edges"], g["vertex_attrs"])
    edges = {
        (r.src_coll, r.src_key, r.dst_coll, r.dst_key, r.label)
        for r in sub["edges"].collect()
    }
    assert ("GS", "TP53", "BMC", "m1", "PART_OF") in edges
    assert ("CS", "c1", "BMC", "m1", "HAS_MARKER_SET") in edges
    # untouched edges stay out, in either direction
    assert not any(e[4] in ("INVOLVED_IN", "subClassOf") for e in edges)
    assert ("BMC", "m1", "BGS", "g1", "PART_OF") not in edges
    verts = {(r.coll, r.key) for r in sub["vertices"].collect()}
    assert verts == {("CS", "c1"), ("BMC", "m1"), ("GS", "TP53")}


def test_touched_edges_one_node_hierarchy_path(spark):
    # A terminal with no outbound hierarchy edge has a one-node walk: it
    # adds no edge (and must not index position 0); longer walks add
    # their consecutive pairs as before.
    paths = spark.createDataFrame(
        [
            (["CS_a", "CL_1"], "CL_1"),
            (["CS_b", "CL_2"], "CL_2/CL_3/CL_4"),
            (["CS_c", "CL_5"], None),
        ],
        "path array<string>, hierarchy_path string",
    )
    got = sorted(tuple(r) for r in touched_edges(paths).collect())
    assert got == [
        ("CL", "2", "CL", "3"),
        ("CL", "3", "CL", "4"),
        ("CS", "a", "CL", "1"),
        ("CS", "b", "CL", "2"),
        ("CS", "c", "CL", "5"),
    ]
    only_leaf = paths.limit(1)
    assert [tuple(r) for r in touched_edges(only_leaf).collect()] == [
        ("CS", "a", "CL", "1")
    ]


def test_triple_components_report(spark, tmp_path):
    rows = [
        ("CS_c1", "HAS", "BMC_m1", None),
        ("CS_c1", "Source", "BMC_m1", "NSForest"),
        ("BMC_m1", "F_score", "0.9", None),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string, lit string")
    rep = reports.triple_components_report(t)
    assert {r.p for r in rep["edge_annotations"].collect()} == {"Source"}
    assert rep["subjects"].count() == 2
    reports.write_report(rep, str(tmp_path / "report"))
    import os

    assert os.path.isdir(tmp_path / "report" / "subjects")


def test_version_compare():
    v1 = "http://purl.obolibrary.org/obo/cl/releases/2024-01-04/cl.owl"
    v2 = "2024-06-01"
    assert reports.parse_version_date(v1) == "2024-01-04"
    assert reports.is_newer_version(v1, v2)
    assert not reports.is_newer_version(v2, v1)
    assert reports.is_newer_version(None, v1)
    assert not reports.is_newer_version(v1, "no-date-here")


def ontology_graph(spark):
    """A minimal graph reaching every collection the 25-query reference
    battery touches, with hierarchy chains behind the *WithHierarchy
    terminals (PhenotypeGraphBuilder.java:50-92)."""
    R = "REL"
    rows = [
        # anchor fan-out
        ("CS_c1", R, "BGS_b1", None),
        ("CS_c1", R, "BMC_m1", None), ("BMC_m1", R, "BGS_b1", None),
        ("CS_c1", R, "CL_t1", None),
        ("CL_t1", R, "CSD_d1", None), ("CL_t1", R, "GS_g1", None),
        ("CL_t1", R, "PR_p1", None),
        ("CS_c1", R, "CSD_d1", None), ("CSD_d1", R, "PUB_u1", None),
        ("CS_c1", R, "UBERON_u1", None),
        ("UBERON_u1", R, "CHEBI_h1", None), ("UBERON_u1", R, "CSD_d1", None),
        ("UBERON_u1", R, "GS_g1", None), ("UBERON_u1", R, "NCBITaxon_n1", None),
        ("UBERON_u1", R, "PATO_a1", None), ("UBERON_u1", R, "PR_p1", None),
        # hierarchy terminals (2 hops)
        ("CL_t1", R, "NCBITaxon_n1", None),
        ("NCBITaxon_n1", "SUB_CLASS_OF", "NCBITaxon_n2", None),
        ("CL_t1", R, "PATO_a1", None),
        ("PATO_a1", "SUB_CLASS_OF", "PATO_a2", None),
        ("CL_t1", R, "UBERON_u1", None),
        ("UBERON_u1", "PART_OF", "UBERON_u2", None),
        ("UBERON_u1", R, "GO_o1", None),
        ("GO_o1", "SUB_CLASS_OF", "GO_o2", None),
        # 3 hops
        ("CL_t1", R, "GO_o1", None), ("GO_o1", R, "NCBITaxon_n1", None),
        ("GS_g1", R, "BMC_m1", None), ("GS_g1", R, "UBERON_u1", None),
        ("GS_g1", R, "MONDO_o1", None),
        ("MONDO_o1", "SUB_CLASS_OF", "MONDO_o2", None),
        # 4 hops
        ("GS_g1", R, "PR_p1", None), ("PR_p1", R, "CHEMBL_e1", None),
        ("MONDO_o1", R, "NCBITaxon_n1", None),
        ("MONDO_o1", R, "HP_h1", None),
        ("HP_h1", "SUB_CLASS_OF", "HP_h2", None),
        # 5 hops
        ("GS_g1", R, "RS_r1", None), ("RS_r1", R, "CHEMBL_e1", None),
        ("CHEMBL_e1", R, "MONDO_o1", None), ("CHEMBL_e1", R, "PR_p1", None),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string, lit string")
    return graph_from_tuples(t)


def test_reference_battery_names_and_shapes():
    from cell_kn_mvp_etl_results_spark.plans.battery import reference_battery

    specs = reference_battery()
    assert len(specs) == 25
    assert len({s.name for s in specs}) == 25
    by_len = {}
    for s in specs:
        assert s.anchor == "CS"
        by_len[len(s.hops)] = by_len.get(len(s.hops), 0) + 1
    assert by_len == {1: 1, 2: 15, 3: 4, 4: 3, 5: 2}
    hier = [s for s in specs if s.hierarchy is not None]
    assert len(hier) == 6
    assert all(s.hierarchy.max_depth == 64 for s in hier)
    assert {s.hierarchy.label for s in hier} == {"SUB_CLASS_OF", "PART_OF"}


def test_reference_battery_runs_all_25(spark):
    from cell_kn_mvp_etl_results_spark.plans.battery import reference_battery

    g = ontology_graph(spark)
    specs = reference_battery()
    out = run_battery(g["vertices"], g["edges"], specs)
    assert set(out) == {s.name for s in specs} | {"_touched_edges"}
    for s in specs:
        paths = out[s.name].collect()
        assert paths, f"{s.name}: no path found"
        # every path ends in the spec's terminal collection
        assert all(p.node_coll == s.hops[-1] for p in paths), s.name
        if s.hierarchy is not None:
            # at least one terminal has the 1-hop hierarchy extension
            assert any(p.hierarchy_depth == 1 for p in paths), s.name
    te = out["_touched_edges"].collect()
    keys = [(r.src_coll, r.src_key, r.dst_coll, r.dst_key) for r in te]
    assert len(keys) == len(set(keys))  # deduped across 25 specs
    sub = extract_subgraph(g["edges"], out["_touched_edges"], g["vertex_attrs"])
    verts = {(r.coll, r.key) for r in sub["vertices"].collect()}
    # hierarchy tails are part of the extracted phenotype subgraph
    assert ("NCBITaxon", "n2") in verts and ("UBERON", "u2") in verts
    assert ("CS", "c1") in verts
