"""Domain tuple writers (SURVEY.md section 2.10 T1/T2): the reference's
row -> many-semantic-tuples emitters, re-expressed as one ``select`` that
builds an array of tuple structs per input row and explodes it -- the
Spark-native UDTF shape (section 2.11). No row-at-a-time Python.

Reference behavior mirrored (not copied):
  * ``NSForestResultsTupleWriter.py:20-298`` -- per NSForest cluster row:
    node typing, per-marker gene relations, CS/BMC/BGS relations, node
    annotations (f_score, counts, joined gene strings), edge-annotation
    quads (TP/FP/FN/TN/precision/marker_count), per-dataset provenance.
  * ``AuthorToClResultsTupleWriter.py:23-361`` -- author cell set to Cell
    Ontology mappings: CL PART_OF UBERON, CS DERIVES_FROM UBERON,
    CS COMPOSED_PRIMARILY_OF CL, CS EXPRESSES BGS, per-gene
    GS PART_OF CL / CL SELECTIVELY_EXPRESSES GS, Match/Mapping_method
    edge annotations.

Term-key scheme (FIXTURES.md section 12): ``CS_<hyphenated-name>-<uuid>``,
``BMC_<uuid>``, ``BGS_<uuid>``, ``GS_<GENE>``, ``CSD_<dataset id>``,
ontology terms pass through (``CL_``, ``UBERON_``...).

The tuples relation is (s, p, o, lit): lit NULL -> triple; lit set ->
quadruple annotating edge s->o (validated by the reference's loader,
``ResultsGraphBuilder.java:74-83``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hyphenate, parse_list_literal

MIN_CLUSTER_SIZE = 10  # reference LoaderUtilities.py:39

def _tup(s: Column, p: Column | str, o: Column, lit: Column | None = None) -> Column:
    """One (s, p, o, lit) tuple struct, every field cast to string (a
    cast of a string column is a no-op the optimizer drops)."""
    p = F.lit(p) if isinstance(p, str) else p
    if lit is None:
        lit = F.lit(None)
    return F.struct(
        s.cast("string").alias("s"),
        p.cast("string").alias("p"),
        o.cast("string").alias("o"),
        lit.cast("string").alias("lit"),
    )


def nsforest_tuples(results: DataFrame) -> DataFrame:
    """T1: NSForest marker-gene results -> semantic tuples.

    Input columns (FIXTURES.md section 1): clusterName, clusterSize,
    f_score, precision, TP, FP, FN, TN, marker_count, NSForest_markers
    (stringified list), binary_genes (stringified list), uuid, and
    optionally dataset_version_id.

    Plan shape: one filter (min cluster size, F1) -> one select building
    fixed tuples + two explode branches (markers, binary genes) -> union.
    Entirely map-side; the output is deterministic given the input
    (sorted by the caller when goldens demand it).
    """
    r = results.filter(F.col("clusterSize") >= MIN_CLUSTER_SIZE)
    cs = F.concat(F.lit("CS_"), hyphenate("clusterName"), F.lit("-"), F.col("uuid"))
    bmc = F.concat(F.lit("BMC_"), F.col("uuid"))
    bgs = F.concat(F.lit("BGS_"), F.col("uuid"))
    markers = parse_list_literal("NSForest_markers")
    binary = parse_list_literal("binary_genes")

    fixed = [
        # node typing (reference :65-71)
        _tup(bmc, "rdf:type", F.lit("SO_biomarker_combination")),
        _tup(bgs, "rdf:type", F.lit("SO_binary_gene_set")),
        # relations CS->BMC, BMC->BGS (:101-135), each with a Source quad
        _tup(cs, "HAS_CHARACTERIZING_MARKER_SET", bmc),
        _tup(cs, "Source", bmc, F.lit("NSForest")),
        _tup(bmc, "PART_OF", bgs),
        _tup(bmc, "Source", bgs, F.lit("NSForest")),
        # node annotations (:142-198)
        _tup(bmc, "F_score", F.col("f_score")),
        _tup(bmc, "Cluster_size", F.col("clusterSize")),
        _tup(bmc, "Marker_names", F.concat_ws(" ", markers)),
        _tup(bgs, "Gene_names", F.concat_ws(" ", binary)),
        # edge-annotation quads on CS->BMC (:200-265)
        _tup(cs, "True_positives", bmc, F.col("TP")),
        _tup(cs, "False_positives", bmc, F.col("FP")),
        _tup(cs, "False_negatives", bmc, F.col("FN")),
        _tup(cs, "True_negatives", bmc, F.col("TN")),
        _tup(cs, "Precision", bmc, F.col("precision")),
        _tup(cs, "Marker_count", bmc, F.col("marker_count")),
    ]
    if "dataset_version_id" in results.columns:
        csd = F.concat(F.lit("CSD_"), F.col("dataset_version_id"))
        fixed.append(_tup(cs, "SOURCE_DATA_IN", csd))

    base = r.select(F.explode(F.array(*fixed)).alias("t"))
    # per marker gene: GS PART_OF BMC (:83-99)
    marker_t = r.select(
        F.explode(markers).alias("gene"), cs.alias("cs"), bmc.alias("bmc")
    ).select(
        F.explode(
            F.array(
                _tup(
                    F.concat(F.lit("GS_"), F.col("gene")), "PART_OF", F.col("bmc")
                ),
                _tup(
                    F.concat(F.lit("GS_"), F.col("gene")),
                    "Source",
                    F.col("bmc"),
                    F.lit("NSForest"),
                ),
            )
        ).alias("t")
    )
    # per binary gene: GS PART_OF BGS
    binary_t = r.select(F.explode(binary).alias("gene"), bgs.alias("bgs")).select(
        F.explode(
            F.array(
                _tup(F.concat(F.lit("GS_"), F.col("gene")), "PART_OF", F.col("bgs"))
            )
        ).alias("t")
    )
    return base.unionAll(marker_t).unionAll(binary_t).select("t.s", "t.p", "t.o", "t.lit")


def merge_author_mapping(mapping: DataFrame, nsforest: DataFrame) -> DataFrame:
    """J2: author-to-CL mapping x NSForest results, inner equi-join on
    ``author_cell_set == clusterName`` importing clusterSize, markers
    and the surrogate uuid (``AuthorToClResultsTupleWriter.py:420-434``;
    inner semantics drop author cell sets with no NSForest row -- the
    reference notes they 'may not align exactly'). NSForest side is the
    smaller (per-dataset) table -> broadcast."""
    imported = nsforest.select(
        F.col("clusterName"),
        "clusterSize",
        "NSForest_markers",
        "binary_genes",
        "uuid",
    )
    return mapping.join(
        F.broadcast(imported),
        mapping.author_cell_set == imported.clusterName,
        "inner",
    ).drop("clusterName")


def author_to_cl_tuples(mapping: DataFrame) -> DataFrame:
    """T2: author-cell-set -> Cell Ontology mapping tuples.

    Input columns (FIXTURES.md section 3, post-merge with NSForest):
    author_cell_set, cell_ontology_id (PURL), cell_ontology_term,
    uberon_entity_id (PURL), uberon_entity_term, match, mapping_method,
    clusterSize, NSForest_markers, uuid, PMID, dataset_version_id.
    """
    from ..functions.text import strip_purl

    m = mapping.filter(F.col("clusterSize") >= MIN_CLUSTER_SIZE)
    # keep only CL-resolvable mappings (reference F2: contains "CL")
    m = m.filter(F.col("cell_ontology_id").contains("CL"))
    cs = F.concat(
        F.lit("CS_"), hyphenate("author_cell_set"), F.lit("-"), F.col("uuid")
    )
    bgs = F.concat(F.lit("BGS_"), F.col("uuid"))
    cl = strip_purl("cell_ontology_id")
    uberon = strip_purl("uberon_entity_id")
    markers = parse_list_literal("NSForest_markers")
    csd = F.concat(F.lit("CSD_"), F.col("dataset_version_id"))
    pub = F.concat(F.lit("PUB_"), F.col("PMID"))

    fixed = [
        # CL PART_OF UBERON (:113-129)
        _tup(cl, "PART_OF", uberon),
        # CS DERIVES_FROM UBERON (:131-148)
        _tup(cs, "DERIVES_FROM", uberon),
        # CL HAS_EXEMPLAR_DATA CSD (:150-169)
        _tup(cl, "HAS_EXEMPLAR_DATA", csd),
        # CS COMPOSED_PRIMARILY_OF CL with Match/Mapping_method quads
        # (:171-187, :226-275)
        _tup(cs, "COMPOSED_PRIMARILY_OF", cl),
        _tup(cs, "Match", cl, F.col("match")),
        _tup(cs, "Mapping_method", cl, F.col("mapping_method")),
        # CS EXPRESSES BGS (:189-204)
        _tup(cs, "EXPRESSES", bgs),
        # provenance: CSD -> PUB (:44-94)
        _tup(csd, "HAS_SOURCE_PUBLICATION", pub),
        # node annotations
        _tup(cl, "Label", F.col("cell_ontology_term")),
        _tup(uberon, "Label", F.col("uberon_entity_term")),
    ]
    base = m.select(F.explode(F.array(*fixed)).alias("t"))
    # per gene: GS PART_OF CL, CL SELECTIVELY_EXPRESSES GS (:277-340)
    gene_t = m.select(F.explode(markers).alias("gene"), cl.alias("cl")).select(
        F.explode(
            F.array(
                _tup(F.concat(F.lit("GS_"), F.col("gene")), "PART_OF", F.col("cl")),
                _tup(
                    F.col("cl"),
                    "SELECTIVELY_EXPRESSES",
                    F.concat(F.lit("GS_"), F.col("gene")),
                ),
            )
        ).alias("t")
    )
    return base.unionAll(gene_t).select("t.s", "t.p", "t.o", "t.lit")
