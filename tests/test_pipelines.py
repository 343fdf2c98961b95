"""End-to-end pipeline test: CSV -> tuples JSON -> graph tables ->
typed-path query (the full reference lifecycle through open formats)."""

from __future__ import annotations

import pytest


NSFOREST_CSV = (
    "clusterName,clusterSize,f_score,precision,TP,FP,FN,TN,marker_count,"
    "NSForest_markers,binary_genes,dataset_version_id\n"
    'Rod,25000,0.9,0.95,100,5,3,900,2,"[\'RHO\', \'NRL\']","[\'GNAT1\']",dv-9\n'
    'Tiny,4,0.1,0.1,1,1,1,1,1,"[\'X\']","[\'Y\']",dv-9\n'
)


def test_full_lifecycle_csv_to_query(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.pipelines import (
        run_graph_load,
        run_nsforest_pipeline,
        run_query,
    )

    csv = tmp_path / "nsforest.csv"
    csv.write_text(NSFOREST_CSV)
    tuples_dir = str(tmp_path / "tuples")
    graph_dir = str(tmp_path / "graph")

    t = run_nsforest_pipeline(spark, str(csv), tuples_dir)
    n_tuples = t.count()
    assert n_tuples > 0

    g = run_graph_load(spark, tuples_dir, graph_dir)
    assert g["edges"].count() > 0

    paths = run_query(spark, graph_dir, "CS", ["BMC", "GS"]).collect()
    # Rod's cell set reaches its marker genes through the BMC node
    endpoints = {p.path[-1] for p in paths}
    assert {"GS_RHO", "GS_NRL"} <= endpoints
    # Tiny cluster was filtered (clusterSize < 10): nothing from it
    assert all("Tiny" not in "/".join(p.path) for p in paths)


def test_cli_main(spark, tmp_path, capsys):
    """Drive the CLI surface itself (argument parsing + stage wiring).
    Reuses the session-scoped SparkSession via monkeypatched factory.
    The load commands print the vertex and edge counts of the tables
    they wrote."""
    import re

    import cell_kn_mvp_etl_results_spark.pipelines as pl
    from cell_kn_mvp_etl_results_spark.sources.sinks import read_graph
    from test_rdf import OWL_FIXTURE

    def assert_printed_counts(out: str, graph: str) -> None:
        m = re.search(r"(\d+) vertices, (\d+) edges", out)
        g = read_graph(spark, graph)
        assert m and (int(m[1]), int(m[2])) == (
            g["vertices"].count(),
            g["edges"].count(),
        )
        assert int(m[1]) > 0 and int(m[2]) > 0

    csv = tmp_path / "nsforest.csv"
    csv.write_text(NSFOREST_CSV)
    tuples_dir = str(tmp_path / "tuples")
    graph_dir = str(tmp_path / "graph")

    real_get_spark = None
    import cell_kn_mvp_etl_results_spark.session as sess

    real_get_spark = sess.get_spark
    real_stop = spark.stop
    try:
        sess.get_spark = lambda *a, **k: spark  # reuse fixture session
        spark.stop = lambda: None
        assert pl.main(["nsforest", "--results", str(csv), "--out", tuples_dir]) == 0
        assert "tuples" in capsys.readouterr().out
        assert pl.main(["load", "--tuples", tuples_dir, "--graph", graph_dir]) == 0
        assert_printed_counts(capsys.readouterr().out, graph_dir)
        owl = tmp_path / "tiny.owl"
        owl.write_text(OWL_FIXTURE)
        onto_dir = str(tmp_path / "onto")
        assert pl.main(["ontology", "--owl", str(owl), "--graph", onto_dir]) == 0
        assert_printed_counts(capsys.readouterr().out, onto_dir)
        assert (
            pl.main(
                ["query", "--graph", graph_dir, "--anchor", "CS", "--hops", "BMC,GS"]
            )
            == 0
        )
        out = capsys.readouterr().out
        assert "paths total" in out and "GS_" in out
        report_xlsx = str(tmp_path / "report.xlsx")
        assert pl.main(["report", "--tuples", tuples_dir, "--out", report_xlsx]) == 0
        assert "sheets" in capsys.readouterr().out
        from cell_kn_mvp_etl_results_spark.sources import xlsx

        assert xlsx.sheet_names(report_xlsx) == [
            "subjects",
            "predicates",
            "objects",
            "edge_annotations",
        ]
        subs = xlsx.read_xlsx(report_xlsx, "subjects")
        assert subs[0] == ["s"] and len(subs) > 1
    finally:
        sess.get_spark = real_get_spark
        spark.stop = real_stop


def test_ontology_load_stage(spark, tmp_path):
    """OWL -> reified tuples -> property graph end-to-end: restriction
    bnodes become typed edges, axiom annotations become edge attrs on
    the reconstructed edge, labels become vertex attrs."""
    import cell_kn_mvp_etl_results_spark.pipelines as pl
    from test_rdf import OWL_FIXTURE

    owl = tmp_path / "tiny.owl"
    owl.write_text(OWL_FIXTURE)
    g = pl.run_ontology_load(spark, str(owl), str(tmp_path / "graph"))

    verts = {(r.coll, r.key) for r in g["vertices"].collect()}
    assert ("XX", "0000001") in verts and ("YY", "0000009") in verts

    edges = {
        (r.src_coll, r.src_key, r.label, r.dst_coll, r.dst_key)
        for r in g["edges"].collect()
    }
    assert ("XX", "0000001", "subClassOf", "XX", "0000002") in edges
    # restriction reified into a typed relation edge
    assert ("XX", "0000001", "RO_0000052", "YY", "0000009") in edges

    attrs = {
        (r.coll, r.key, r.attr, tuple(r.values))
        for r in g["vertex_attrs"].collect()
    }
    assert ("XX", "0000001", "label", ("alpha cell",)) in attrs

    ea = g["edge_attrs"].collect()
    assert len(ea) == 1
    assert ea[0].attr == "hasDbXref" and ea[0].values == ["PMID:99"]
    assert g["skipped_annotations"].count() == 0


def test_load_releases_its_tuples_cache(spark, tmp_path, monkeypatch):
    """run_ontology_load and run_graph_load cache their tuples for the
    write and release them after it, failed or not, per Spark's own
    storage state: the cache manager holds the tuples during the write,
    the write fills one more persistent RDD (the failing one too: its
    job runs before the output directory is made), and every load
    leaves the persistent RDDs as it found them."""
    from pyspark import StorageLevel

    import cell_kn_mvp_etl_results_spark.pipelines as pl
    from test_rdf import OWL_FIXTURE

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    inputs, seen = [], []
    real_build, real_write = pl.graph_from_tuples, pl.write_graph

    def recording_build(tuples):
        inputs.append(tuples)
        return real_build(tuples)

    def recording_write(g, path):
        level = inputs[-1].storageLevel
        try:
            real_write(g, path)
        finally:
            seen.append((level, persisted()))

    monkeypatch.setattr(pl, "graph_from_tuples", recording_build)
    monkeypatch.setattr(pl, "write_graph", recording_write)
    owl = tmp_path / "tiny.owl"
    owl.write_text(OWL_FIXTURE)
    csv = tmp_path / "nsforest.csv"
    csv.write_text(NSFOREST_CSV)
    tuples_dir = str(tmp_path / "tuples")
    pl.run_nsforest_pipeline(spark, str(csv), tuples_dir)
    graph_is_a_file = tmp_path / "graph_is_a_file"
    graph_is_a_file.write_text("")

    loads = [
        (lambda: pl.run_ontology_load(spark, str(owl), str(tmp_path / "onto")), False),
        (lambda: pl.run_graph_load(spark, tuples_dir, str(tmp_path / "graph")), False),
        (lambda: pl.run_graph_load(spark, tuples_dir, str(graph_is_a_file)), True),
    ]
    for i, (load, fails) in enumerate(loads):
        before = persisted()
        if fails:
            with pytest.raises(Exception, match="not a directory"):
                load()
        else:
            load()
        level, during = seen[i]
        assert level != StorageLevel.NONE, i
        assert len(during - before) == 1, i
        assert inputs[i].storageLevel == StorageLevel.NONE, i
        assert persisted() == before, i


AUTHOR_CSV = (
    "author_cell_set,clusterSize,NSForest_markers,cell_ontology_id,"
    "cell_ontology_term,uberon_entity_id,uberon_entity_term,match,"
    "mapping_method,PMID,dataset_version_id\n"
    'CAI,12000,"[\'GAD1\', \'GAD2\']",'
    "https://purl.obolibrary.org/obo/CL_4030027,GABAergic amacrine cell,"
    "http://purl.obolibrary.org/obo/UBERON_0000966,retina,skos:broad,"
    "manual,38014002,2e910e62\n"
)


def test_author_cl_stage(spark, tmp_path, capsys):
    """T2 lifecycle through the CLI: mapping CSV -> tuples JSON; the
    derived uuid keys the CS/BGS ids, and the tuples round-trip through
    the JSON reader."""
    import cell_kn_mvp_etl_results_spark.pipelines as pl
    import cell_kn_mvp_etl_results_spark.session as sess
    from cell_kn_mvp_etl_results_spark.sources.readers import read_tuples_json

    csv = tmp_path / "mapping.csv"
    csv.write_text(AUTHOR_CSV)
    out = str(tmp_path / "tuples")
    real_get_spark, real_stop = sess.get_spark, spark.stop
    try:
        sess.get_spark = lambda *a, **k: spark
        spark.stop = lambda: None
        assert pl.main(["author-cl", "--mapping", str(csv), "--out", out]) == 0
        assert "tuples" in capsys.readouterr().out
    finally:
        sess.get_spark = real_get_spark
        spark.stop = real_stop
    t = read_tuples_json(spark, out)
    rows = {(r.s, r.p, r.o) for r in t.collect()}
    assert ("CL_4030027", "PART_OF", "UBERON_0000966") in rows
    assert any(p == "SELECTIVELY_EXPRESSES" and o == "GS_GAD1"
               for _, p, o in rows)
    cs_rows = [s for s, p, _ in rows if p == "EXPRESSES"]
    assert cs_rows and cs_rows[0].startswith("CS_CAI-")


def test_ontology_load_literal_axioms_and_valid_colls(spark, tmp_path):
    """A literal-target owl:Axiom (the dominant definition/synonym
    pattern) must become a vertex ATTRIBUTE, not a phantom vertex; the
    VALID_VERTICES whitelist drops header/type garbage with a metric."""
    import textwrap

    import cell_kn_mvp_etl_results_spark.pipelines as pl

    owl = tmp_path / "lit.owl"
    owl.write_text(textwrap.dedent("""\
        <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                 xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
                 xmlns:owl="http://www.w3.org/2002/07/owl#"
                 xmlns:obo="http://purl.obolibrary.org/obo/"
                 xmlns:oio="http://www.geneontology.org/formats/oboInOwl#">
          <owl:Class rdf:about="http://purl.obolibrary.org/obo/XX_0000001">
            <rdfs:subClassOf rdf:resource="http://purl.obolibrary.org/obo/XX_0000002"/>
          </owl:Class>
          <owl:Axiom>
            <owl:annotatedSource rdf:resource="http://purl.obolibrary.org/obo/XX_0000001"/>
            <owl:annotatedProperty rdf:resource="http://purl.obolibrary.org/obo/IAO_0000115"/>
            <owl:annotatedTarget>A cell that secretes glucagon.</owl:annotatedTarget>
            <oio:hasDbXref>PMID:7</oio:hasDbXref>
          </owl:Axiom>
        </rdf:RDF>
    """))
    g = pl.run_ontology_load(
        spark, str(owl), str(tmp_path / "g"), valid_colls=["XX"]
    )
    verts = {(r.coll, r.key) for r in g["vertices"].collect()}
    assert verts == {("XX", "0000001"), ("XX", "0000002")}  # no phantom text vertex
    attrs = {
        (r.coll, r.key, r.attr, tuple(r.values))
        for r in g["vertex_attrs"].collect()
    }
    # the annotated literal triple landed as an attribute
    assert ("XX", "0000001", "IAO_0000115", ("A cell that secretes glucagon.",)) in attrs
    edges = {(r.src_key, r.label, r.dst_key) for r in g["edges"].collect()}
    assert edges == {("0000001", "subClassOf", "0000002")}  # no rdf:type garbage
    skipped = {(r.s_coll, r.p) for r in g["skipped_tuples"].collect()}
    assert any(p == "type" for _, p in skipped)  # owl#Class rows gated out


def test_run_curation_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Full curation lifecycle on the real documents table: monotone
    stage counts, benchmark leakage dropped, deterministic repeat, and
    readable content-addressed shards."""
    from pyspark.sql import functions as F

    from cell_kn_mvp_etl_results_spark.pipelines import run_curation_pipeline
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table
    from cell_kn_mvp_etl_results_spark.sources.sinks import read_training_shards

    docs = read_table(spark, sf_dir, "documents")
    # benchmark = a handful of real docs -> guaranteed 8-gram leakage
    bench = docs.filter(F.col("doc_id") % 100 == 0).select("doc_id", "text")

    out = str(tmp_path / "shards")
    m = run_curation_pipeline(spark, docs, benchmark=bench, out_path=out)
    assert (
        m["n_input"] >= m["n_quality"] >= m["n_exact"] >= m["n_neardup"]
        > m["n_clean"]
    )
    assert m["n_clean"] == m["n_packed"] > 0

    shards = read_training_shards(spark, out)
    ids = sorted(r.doc_id for r in shards.select("doc_id").collect())
    assert len(ids) == m["n_packed"]
    # benchmark members cannot survive their own decontamination
    assert not any(i % 100 == 0 for i in ids)
    assert "bin" in shards.columns and "offset" in shards.columns

    # deterministic: a second dry run selects the identical membership
    m2 = run_curation_pipeline(spark, docs, benchmark=bench, out_path=None)
    assert m2["n_packed"] == m["n_packed"]
