"""End-to-end pipeline entry points (SURVEY.md section 3 lifecycles).

The reference is driven by running writer scripts
(``python NSForestResultsTupleWriter.py``; Java mains for load + query).
The equivalents here are composable functions plus a tiny CLI:

  python -m cell_kn_mvp_etl_results_spark.pipelines nsforest \
      --results <csv glob> --out <dir>
  python -m cell_kn_mvp_etl_results_spark.pipelines load \
      --tuples <json dir> --graph <dir>
  python -m cell_kn_mvp_etl_results_spark.pipelines query \
      --graph <dir> --anchor CS --hops BMC,BGS
  python -m cell_kn_mvp_etl_results_spark.pipelines report \
      --tuples <json dir> --out <report.xlsx>
  python -m cell_kn_mvp_etl_results_spark.pipelines ontology \
      --owl <cl.owl | triples.nt> --graph <dir>
  python -m cell_kn_mvp_etl_results_spark.pipelines author-cl \
      --mapping <merged csv> --out <dir>

Each stage reads/writes open formats (CSV/JSON/parquet/xlsx), so a user
of the reference can swap one stage at a time.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.graph import graph_from_tuples, split_term
from .operators.tuplewriters import nsforest_tuples
from .plans.battery import PathSpec, run_path_spec
from .sources.readers import read_results_csv, read_tuples_json
from .sources.sinks import read_graph, write_graph, write_tuples_json


def run_nsforest_pipeline(
    spark: SparkSession, results_csv: str, out_tuples: str
) -> DataFrame:
    """Stage 1 (SURVEY section 3.1): results CSV -> semantic tuples JSON.
    The uuid surrogate is derived, deterministic, and never written back
    into the input (unlike the reference)."""
    results = read_results_csv(
        spark, results_csv, uuid_cols=("clusterName",)
    )
    tuples = nsforest_tuples(results)
    write_tuples_json(tuples, out_tuples)
    return tuples


def run_graph_load(spark: SparkSession, tuples_path: str, graph_path: str) -> dict:
    """Stage 2 (section 3.2): tuples JSON -> property-graph tables.
    Dangling edge annotations (quads whose endpoint pair matches no
    edge) are dropped before the write, with the per-collection-pair
    skip counts returned under ``"skipped_annotations"``."""
    return _load_graph(read_tuples_json(spark, tuples_path), graph_path)


def _load_graph(tuples: DataFrame, graph_path: str) -> dict:
    """Assemble ``tuples`` into the property graph, drop its dangling
    edge annotations, write it to ``graph_path`` and return the graph
    tables plus the dropped counts under ``"skipped_annotations"``.

    ``tuples`` is cached for the write: all four components derive from
    it, and ``edge_attrs`` reads it once more through the semi-join
    against ``edges``, so without the cache its upstream lineage (file
    scan, parse, pivots) would run five times. The cache is released
    when the write ends, failed or not."""
    from .operators.graph import split_edge_annotations

    tuples = tuples.persist()
    try:
        g = graph_from_tuples(tuples)
        kept, dangling = split_edge_annotations(g["edge_attrs"], g["edges"])
        g = {**g, "edge_attrs": kept}
        write_graph(g, graph_path)
    finally:
        tuples.unpersist()
    return {**g, "skipped_annotations": dangling}


def run_query(
    spark: SparkSession,
    graph_path: str,
    anchor: str,
    hops: list[str],
    any_direction: bool = True,
) -> DataFrame:
    """Stage 3 (section 3.3): typed-path query over the stored graph."""
    g = read_graph(spark, graph_path)
    spec = PathSpec("cli", anchor=anchor, hops=hops, any_direction=any_direction)
    return run_path_spec(g["vertices"], g["edges"], spec)


def run_author_cl_pipeline(
    spark: SparkSession, mapping_csv: str, out_tuples: str
) -> DataFrame:
    """T2 lifecycle: the merged author-cell-set -> CL mapping CSV
    (FIXTURES.md section 3 columns) -> semantic tuples JSON, the
    ``AuthorToClResultsTupleWriter`` stage. The uuid surrogate is
    derived per (file, author_cell_set) like the NSForest stage."""
    from .operators.tuplewriters import author_to_cl_tuples

    mapping = read_results_csv(
        spark, mapping_csv, uuid_cols=("author_cell_set",)
    )
    tuples = author_to_cl_tuples(mapping)
    write_tuples_json(tuples, out_tuples)
    return tuples


def run_ontology_load(
    spark: SparkSession,
    ontology_path: str,
    graph_path: str,
    valid_colls: list[str] | None = None,
) -> dict:
    """OWL/N-Triples -> reified tuples -> property graph: the
    reference's ``OntologyParserLoader`` lifecycle (parse ontology,
    resolve BNode restrictions/axiom-annotations, construct vertices/
    edges/attrs, ``OntologyParserLoader.py:315-1168``) as one
    composition of the S4/S5 readers, the T5 reification pivot, and the
    T7 assembler. ``.nt`` files stream through the distributed
    N-Triples scan; ``.owl``/RDF-XML parses driver-side (ontologies are
    dimension-scale).

    ``valid_colls`` is the reference's VALID_VERTICES gate
    (``OntologyParserLoader.py:41-44``): when given, only triples whose
    subject collection AND (URI) object collection are whitelisted
    reach the assembler -- without it, ontology-header URIs and
    rdf:type targets (owl#Class etc.) become garbage vertices. The
    per-collection skip counts come back under ``"skipped_tuples"``."""
    from pyspark.sql import functions as SF

    from .operators.rdf import owl_xml_to_triples, read_ntriples, resolve_bnodes

    if ontology_path.endswith((".nt", ".ntriples")):
        triples = read_ntriples(spark, ontology_path)
    else:
        with open(ontology_path, encoding="utf-8") as fp:
            triples = owl_xml_to_triples(spark, fp.read())
    out = resolve_bnodes(triples)
    not_lit = SF.lit(False).alias("is_literal")
    all_triples = (
        out["fnode_triples"]
        .select("s", "p", "o", "is_literal")
        .withColumn("lit", SF.lit(None).cast("string"))
        .unionByName(
            out["relations"].select("s", "p", "o", not_lit,
                                    SF.lit(None).cast("string").alias("lit"))
        )
        .unionByName(
            out["annotation_triples"].select(
                "s", "p", "o", "is_literal",
                SF.lit(None).cast("string").alias("lit"),
            )
        )
        .unionByName(
            out["annotation_quads"].select("s", "p", "o", not_lit, "lit")
        )
    )
    # Term normalization before assembly, as the reference does
    # (LoaderUtilities.py:60-61 PURL -> CURIE; predicates to their
    # local names): subjects/objects drop the OBO PURL prefix, literal
    # objects pass through untouched.
    from .functions.text import strip_purl

    local = lambda c: SF.substring_index(  # noqa: E731
        SF.substring_index(c, "#", -1), "/", -1
    )
    all_triples = all_triples.select(
        strip_purl(SF.col("s")).alias("s"),
        local(SF.col("p")).alias("p"),
        SF.when(SF.col("is_literal"), SF.col("o"))
        .otherwise(strip_purl(SF.col("o")))
        .alias("o"),
        "is_literal",
        "lit",
    )
    skipped_tuples = None
    if valid_colls is not None:
        s_coll, _ = split_term("s")
        o_coll, _ = split_term("o")
        keep = s_coll.isin(*valid_colls) & (
            SF.col("is_literal") | o_coll.isin(*valid_colls)
        )
        skipped_tuples = (
            all_triples.filter(~keep)
            .groupBy(s_coll.alias("s_coll"), "p")
            .agg(SF.count(SF.lit(1)).alias("n_skipped"))
        )
        all_triples = all_triples.filter(keep)
    out_graph = _load_graph(all_triples, graph_path)
    if skipped_tuples is not None:
        out_graph["skipped_tuples"] = skipped_tuples
    return out_graph


def run_report(spark: SparkSession, tuples_path: str, out_xlsx: str) -> dict:
    """Review artifact (K8 + K6): unique triple components of a tuples
    relation as one multi-sheet .xlsx workbook -- the reference's
    reviewer deliverable (``CellKnSchemaUtilities.py:228-239`` writes
    Subjects/Objects/... sheets; ``AnnotationResultsTupleWriter.py:19-90``
    dumps the unique component sets it reviews)."""
    from .sources.reports import triple_components_report, write_report_xlsx

    tuples = read_tuples_json(spark, tuples_path)
    report = triple_components_report(tuples)
    write_report_xlsx(report, out_xlsx)
    return report


def run_curation_pipeline(
    spark: SparkSession,
    docs,
    benchmark=None,
    out_path: str | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_stop_ratio: float = 0.9,
    max_dup_frac: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    est_jaccard_min: float = 0.5,
    pack_capacity: int = 2048,
    n_shards: int = 8,
) -> dict:
    """The LLM-training-data lifecycle end-to-end: quality gate ->
    exact dedup -> MinHash-LSH near-dup clustering (keep one per
    component) -> benchmark decontamination -> deterministic sequence
    packing -> content-addressed shard export.

    Every stage is one of the already-gated operators, chained lazily
    -- nothing collects except the per-stage counts in the returned
    metrics dict. The final membership is a pure function of document
    CONTENT (hashes decide every keep/drop and every shard), so two
    runs on any cluster layout produce byte-identical shards.

    ``benchmark`` is an optional (id, text) frame of eval documents;
    any training doc sharing an 8-gram with it is dropped. ``out_path``
    None skips the shard write (dry-run audit).
    """
    from .operators import dedup as dd
    from .operators.packing import pack_sequences
    from .streaming.windows import curated_document_stream

    metrics: dict = {"n_input": docs.count()}

    # 1. per-document quality gate (same policy as streaming ingest)
    kept = curated_document_stream(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_tokens=min_tokens,
        max_stop_ratio=max_stop_ratio,
        max_dup_frac=max_dup_frac,
    ).select(docs["*"])
    metrics["n_quality"] = kept.count()

    # 2. exact dedup: keep the min-id representative of each fingerprint
    keepers = dd.exact_dedup_groups(kept, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    kept = kept.join(keepers, id_col, "semi")
    metrics["n_exact"] = kept.count()

    # 3. near-dup components over LSH candidate pairs; keep min-id label
    pairs = dd.minhash_lsh_pairs(kept, id_col, text_col, num_perm, bands).filter(
        F.col("est_jaccard") >= est_jaccard_min
    )
    comps = dd.connected_components(
        kept.select(F.col(id_col).alias("id")),
        pairs.select("id_a", "id_b"),
    )
    kept = kept.join(
        comps.filter(F.col("id") == F.col("label")).select(F.col("id").alias(id_col)),
        id_col,
        "semi",
    )
    metrics["n_neardup"] = kept.count()

    # 4. benchmark decontamination (any shared 8-gram drops the doc)
    if benchmark is not None:
        contaminated = dd.decontaminate(kept, benchmark, id_col, text_col).select(
            F.col("id").alias(id_col)
        )
        kept = kept.join(contaminated, id_col, "anti")
    metrics["n_clean"] = kept.count()

    # 5. deterministic packing annotation + 6. content-addressed shards
    from .functions.text import tokens

    packed = kept.join(
        pack_sequences(kept, id_col, F.size(tokens(text_col)), pack_capacity),
        id_col,
    )
    if out_path is not None:
        from .sources.sinks import write_training_shards

        write_training_shards(packed, out_path, id_col, n_shards=n_shards)
    metrics["n_packed"] = packed.count()
    return metrics


def _graph_counts(spark: SparkSession, graph_path: str) -> str:
    """Vertex and edge counts of the graph written at ``graph_path``,
    counted over the written tables: the frames a load returns are
    lineage over its released tuples cache, and counting them would
    re-run the whole load."""
    g = read_graph(spark, graph_path)
    return f"{g['vertices'].count()} vertices, {g['edges'].count()} edges"


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    ap = argparse.ArgumentParser(prog="cell-kn-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p1 = sub.add_parser("nsforest")
    p1.add_argument("--results", required=True)
    p1.add_argument("--out", required=True)
    p2 = sub.add_parser("load")
    p2.add_argument("--tuples", required=True)
    p2.add_argument("--graph", required=True)
    p3 = sub.add_parser("query")
    p3.add_argument("--graph", required=True)
    p3.add_argument("--anchor", required=True)
    p3.add_argument("--hops", required=True, help="comma-separated collections")
    p3.add_argument("--limit", type=int, default=20)
    p4 = sub.add_parser("report")
    p4.add_argument("--tuples", required=True)
    p4.add_argument("--out", required=True, help="output .xlsx path")
    p5 = sub.add_parser("ontology")
    p5.add_argument("--owl", required=True, help=".owl (RDF/XML) or .nt file")
    p5.add_argument("--graph", required=True)
    p5.add_argument(
        "--valid-colls",
        default=None,
        help="comma-separated vertex-collection whitelist (VALID_VERTICES)",
    )
    p6 = sub.add_parser("author-cl")
    p6.add_argument("--mapping", required=True, help="merged mapping CSV")
    p6.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    spark = get_spark("cell-kn-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "nsforest":
            t = run_nsforest_pipeline(spark, args.results, args.out)
            print(f"wrote {t.count()} tuples to {args.out}")
        elif args.cmd == "load":
            run_graph_load(spark, args.tuples, args.graph)
            print(f"graph: {_graph_counts(spark, args.graph)} -> {args.graph}")
        elif args.cmd == "query":
            df = run_query(spark, args.graph, args.anchor, args.hops.split(","))
            rows = df.limit(args.limit).collect()
            for r in rows:
                print("/".join(r.path))
            print(f"({df.count()} paths total)")
        elif args.cmd == "report":
            report = run_report(spark, args.tuples, args.out)
            print(f"wrote {len(report)} sheets to {args.out}")
        elif args.cmd == "ontology":
            colls = args.valid_colls.split(",") if args.valid_colls else None
            run_ontology_load(spark, args.owl, args.graph, valid_colls=colls)
            print(f"ontology graph: {_graph_counts(spark, args.graph)} -> {args.graph}")
        elif args.cmd == "author-cl":
            t = run_author_cl_pipeline(spark, args.mapping, args.out)
            print(f"wrote {t.count()} tuples to {args.out}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
