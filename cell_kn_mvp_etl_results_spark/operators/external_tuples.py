"""External-API tuple generation (SURVEY.md T3, S7/S8/S12, F3/F4/F6,
C11, J4/J9) -- the reference's largest writer
(``ExternalApiResultsTupleWriter.py``, ~1165 LoC of row loops) as
declarative plans over nested-JSON DataFrames.

Input shapes follow FIXTURES.md sections 4-8: one row per fetched
entity with nested struct/array columns exactly as ``spark.read.json``
yields them from the fetch cache. Every filter the reference applies
row-by-row becomes a pushed-down predicate; every per-resource loop
becomes an explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tuplewriters import _tup


# ---------------------------------------------------------------------------
# CELLxGENE dataset metadata (S7, C11).
# ---------------------------------------------------------------------------

# C11: the reference regex-parses citation links out of a free-text
# citation blob (ExternalApiResultsFetcher.py:108-113).
PUBLICATION_RE = r"Publication:\s*(\S*)\s*Dataset Version:"
COLLECTION_RE = r"Collection:\s*(\S*)$"


def parse_citation(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        F.regexp_extract(c, PUBLICATION_RE, 1).alias("publication"),
        F.regexp_extract(c, COLLECTION_RE, 1).alias("collection"),
    )


def cellxgene_tuples(datasets: DataFrame) -> DataFrame:
    """CSD -> PUB provenance + dataset annotations
    (``ExternalApiResultsTupleWriter.py:96-182``). Input columns:
    dataset_version_id, dataset_name, n_cells, organism, tissue,
    citation (free text).
    """
    csd = F.concat(F.lit("CSD_"), F.col("dataset_version_id"))
    cit = parse_citation("citation")
    pub = F.regexp_replace(cit["publication"], r"^https?://", "")
    return datasets.select(
        F.explode(
            F.array(
                _tup(csd, "HAS_SOURCE_PUBLICATION", F.concat(F.lit("PUB_"), pub)),
                _tup(csd, "Dataset_name", F.col("dataset_name")),
                _tup(csd, "Number_of_cells", F.col("n_cells")),
                _tup(csd, "Organism", F.col("organism")),
                _tup(csd, "Tissue", F.col("tissue")),
                _tup(csd, "Link_to_collection", cit["collection"]),
            )
        ).alias("t")
    ).select("t.*").filter(F.col("o").isNotNull() & (F.col("o") != ""))


# ---------------------------------------------------------------------------
# Open Targets (S8, T3 core, F3/F6, J4).
# ---------------------------------------------------------------------------


def opentargets_disease_tuples(
    targets: DataFrame, efo2mondo: DataFrame | None = None
) -> DataFrame:
    """GS GENETIC_BASIS_FOR MONDO with score quads
    (``ExternalApiResultsTupleWriter.py:288-340``).

    F3: keep ``score >= 0.5``. J4: EFO ids map to MONDO via the
    broadcast dim (MONDO passthrough; other namespaces dropped, F6).
    Input: gene_symbol string, diseases array<struct<score double,
    disease struct<id string, name string>>>.
    """
    d = targets.select(
        F.col("gene_symbol"),
        F.explode("diseases").alias("dz"),
    ).select(
        "gene_symbol",
        F.col("dz.score").alias("score"),
        F.col("dz.disease.id").alias("disease_id"),
        F.col("dz.disease.name").alias("disease_name"),
    )
    d = d.filter(F.col("score") >= 0.5)  # F3 threshold
    if efo2mondo is not None:
        from .lookup import efo_to_mondo

        d = efo_to_mondo(d, efo2mondo, "disease_id", out="mondo")
    else:
        d = d.withColumn(
            "mondo",
            F.when(F.col("disease_id").startswith("MONDO"), F.col("disease_id")),
        )
    d = d.filter(F.col("mondo").isNotNull())  # F6 missing-key guard
    gs = F.concat(F.lit("GS_"), F.col("gene_symbol"))
    return d.select(
        F.explode(
            F.array(
                _tup(gs, "GENETIC_BASIS_FOR", F.col("mondo")),
                _tup(gs, "Score", F.col("mondo"), F.col("score")),
                _tup(F.col("mondo"), "Label", F.col("disease_name")),
            )
        ).alias("t")
    ).select("t.*")


def opentargets_drug_tuples(targets: DataFrame) -> DataFrame:
    """CHEMBL IS_SUBSTANCE_THAT_TREATS MONDO + CHEMBL EVALUATED_IN NCT
    (``ExternalApiResultsTupleWriter.py:342-436``).

    F3: ``maximumClinicalTrialPhase >= 3 AND isApproved AND NOT
    hasBeenWithdrawn`` (reference ``:344-349``). C3: CHEMBL/NCT id
    normalization (``CHEMBL123`` -> ``CHEMBL_123``, ``NCT42`` ->
    ``NCT_42``). Input: drugs array<struct<drugId string, diseaseId
    string, ctIds array<string>, maxPhase int, isApproved boolean,
    withdrawn boolean>>.
    """
    d = targets.select(F.explode("drugs").alias("dr")).select(
        F.col("dr.drugId").alias("drug_id"),
        F.col("dr.diseaseId").alias("disease_id"),
        F.col("dr.ctIds").alias("ct_ids"),
        F.col("dr.maxPhase").alias("max_phase"),
        F.col("dr.isApproved").alias("approved"),
        F.col("dr.withdrawn").alias("withdrawn"),
    )
    d = d.filter(
        (F.col("max_phase") >= 3)
        & F.col("approved")
        & ~F.col("withdrawn")
        & F.col("drug_id").isNotNull()  # F6
    )
    chembl = F.regexp_replace("drug_id", "^CHEMBL", "CHEMBL_")
    treats = d.filter(F.col("disease_id").startswith("MONDO")).select(
        _tup(chembl, "IS_SUBSTANCE_THAT_TREATS", F.col("disease_id")).alias("t")
    )
    trials = (
        d.select(chembl.alias("chembl"), F.explode("ct_ids").alias("nct"))
        .select(
            _tup(
                F.col("chembl"),
                "EVALUATED_IN",
                F.regexp_replace("nct", "^NCT", "NCT_"),
            ).alias("t")
        )
    )
    return treats.unionAll(trials).select("t.*")


# ---------------------------------------------------------------------------
# HuBMAP ASCT+B (S12, T3 hubmap section, F4).
# ---------------------------------------------------------------------------


def asctb_tuples(graph_json: DataFrame, known_cl_terms: DataFrame | None = None) -> DataFrame:
    """UBERON PART_OF UBERON + CL PART_OF UBERON from an ASCT+B graph
    (``ExternalApiResultsTupleWriter.py:890-1014``). F4 namespace
    predicates gate ids; the CL->UBERON edges are optionally restricted
    to known CL terms (reference gates on terms seen in the results,
    ``:969-981``).

    Input (FIXTURES.md section 8): anatomical_structures
    array<struct<id string, ccf_part_of array<string>>>,
    cell_types array<struct<id string, ccf_located_in array<string>>>.
    """
    curie = lambda c: F.translate(c, ":", "_")  # noqa: E731  (C3)
    anat = (
        graph_json.select(F.explode("anatomical_structures").alias("a"))
        .select(F.col("a.id").alias("id"), F.explode("a.ccf_part_of").alias("parent"))
        .filter(F.col("id").startswith("UBERON") & F.col("parent").startswith("UBERON"))
        .select(_tup(curie(F.col("id")), "PART_OF", curie(F.col("parent"))).alias("t"))
    )
    cells = (
        graph_json.select(F.explode("cell_types").alias("c"))
        .select(F.col("c.id").alias("id"), F.explode("c.ccf_located_in").alias("loc"))
        .filter(
            F.col("id").startswith("CL")
            & ~F.col("id").startswith("PCL")  # F4: "CL" and not "PCL"
            & F.col("loc").startswith("UBERON")
        )
    )
    if known_cl_terms is not None:
        cells = cells.join(
            F.broadcast(known_cl_terms.select(curie(F.col("term")).alias("_k"))),
            curie(F.col("id")) == F.col("_k"),
            "left_semi",
        )
    cells = cells.select(
        _tup(curie(F.col("id")), "PART_OF", curie(F.col("loc"))).alias("t")
    )
    return anat.unionAll(cells).select("t.*")


# ---------------------------------------------------------------------------
# PubMed XML (S10) -- tag-path navigation without bs4.
# ---------------------------------------------------------------------------


def parse_pubmed_article(xml_text: str) -> dict[str, str | None]:
    """S10: E-Utilities article XML -> flat metadata dict via tag-path
    navigation (``E_Utilities.py:17-45`` uses BeautifulSoup; stdlib
    etree suffices). Driver-side (rate-limited API payloads are
    dimension-scale)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)

    def first_text(path: str) -> str | None:
        el = root.find(path)
        return el.text if el is not None else None

    return {
        "pmid": first_text(".//PMID"),
        "title": first_text(".//ArticleTitle"),
        "journal": first_text(".//Journal/Title"),
        "year": first_text(".//PubDate/Year"),
        "doi": next(
            (
                el.text
                for el in root.findall(".//ArticleId")
                if el.get("IdType") == "doi"
            ),
            None,
        ),
    }


# ---------------------------------------------------------------------------
# EBI OLS (DRON) + RxNav drug properties (S9).
# ---------------------------------------------------------------------------

# The reference fetches per-drug payloads into dicts keyed by drug name
# (ExternalApiResultsFetcher.py:318-398 EBI, :400-514 RxNav) with a
# bookkeeping "drug_names" key alongside the payloads. These loaders
# flatten that cache shape into one-row-per-drug DataFrames
# (dimension-scale, driver-side flatten like the other cached-API
# dims), and the parsers below are Catalyst expressions over them.


def load_drug_cache(spark, cache: dict) -> DataFrame:
    """Reference drug-cache dict -> one JSON row per drug. The payload
    stays a JSON string so callers can parse it with an explicit schema
    (``F.from_json``) -- cached API payloads are too irregular for
    whole-file schema inference."""
    import json

    rows = [
        (name, json.dumps(payload))
        for name, payload in cache.items()
        if name != "drug_names"
    ]
    return spark.createDataFrame(rows, "drug_name string, payload string")


EBI_DOC_SCHEMA = (
    "struct<response: struct<docs: array<struct<"
    "obo_id string, label string, ontology_name string>>>>"
)


def ebi_dron_dim(ebi: DataFrame) -> DataFrame:
    """S9: EBI OLS search results -> (drug_name, dron_id, dron_label)
    lookup dim. The reference queries OLS with ``ontology=dron``
    (ExternalApiResultsFetcher.py:371-373) and keeps whole responses;
    first DRON doc wins, drugs with no hit drop (F6 guard). Input:
    (drug_name, payload JSON string) from :func:`load_drug_cache`."""
    parsed = ebi.select(
        "drug_name", F.from_json("payload", EBI_DOC_SCHEMA).alias("p")
    )
    doc = F.filter(
        F.col("p.response.docs"), lambda d: d["ontology_name"] == F.lit("dron")
    )[0]
    return parsed.select(
        "drug_name",
        doc["obo_id"].alias("dron_id"),
        doc["label"].alias("dron_label"),
    ).filter(F.col("dron_id").isNotNull())


RXNAV_SCHEMA = (
    "struct<"
    "idGroup: struct<rxnormId: array<string>>, "
    "propConceptGroup: struct<propConcept: array<struct<"
    "propCategory string, propName string, propValue string>>>>"
)


def rxnav_props(rxnav: DataFrame) -> DataFrame:
    """S9: RxNav per-drug payloads -> long-form property relation
    (drug_name, rxcui, prop_name, prop_value). Mirrors the cache the
    reference builds from rxcui.json + allProperties.json
    (ExternalApiResultsFetcher.py:455-496); drugs that resolved no
    rxnormId have no property rows, matching the reference's skip."""
    parsed = rxnav.select(
        "drug_name", F.from_json("payload", RXNAV_SCHEMA).alias("p")
    )
    return parsed.select(
        "drug_name",
        F.col("p.idGroup.rxnormId")[0].alias("rxcui"),
        F.posexplode("p.propConceptGroup.propConcept").alias("pos", "pc"),
    ).select(
        "drug_name",
        "rxcui",
        "pos",
        F.col("pc.propName").alias("prop_name"),
        F.col("pc.propValue").alias("prop_value"),
    )


def drug_prop(props: DataFrame, prop_name: str) -> DataFrame:
    """``get_prop_for_drug`` (ExternalApiResultsFetcher.py:516-552) as a
    relation: (drug_name, prop_value) with the FIRST matching property
    per drug. The reference breaks on first match; ``pos`` (the
    propConcept array index carried by posexplode) makes first-wins a
    deterministic min-by, robust to any partitioning."""
    return (
        props.filter(F.col("prop_name") == prop_name)
        .groupBy("drug_name")
        .agg(
            F.min_by("prop_value", "pos").alias("prop_value"),
        )
    )


# ---------------------------------------------------------------------------
# UniProt id-mapping results (S11, J7).
# ---------------------------------------------------------------------------

UNIPROT_RESULTS_SCHEMA = (
    "array<struct<from: string, to: struct<primaryAccession: string>>>"
)


def uniprot_mapping_dim(results: DataFrame) -> DataFrame:
    """S11: UniProt id-mapping JSON results -> (src_id, accession)
    relation. The reference walks ``data["results"]`` collecting
    ``from`` -> ``to.primaryAccession`` (LoaderUtilities.py:539-547,
    one dict entry per ENSP, values promoted to lists on collision).
    Relationally that is just the exploded pair set; ``pos`` carries
    the response order so the first-wins selection below is exact.
    Input: one row per fetched batch with a ``results`` JSON string
    column (the fetch-cache framing)."""
    return results.select(
        F.posexplode(
            F.from_json("results", UNIPROT_RESULTS_SCHEMA)
        ).alias("pos", "r")
    ).select(
        F.col("r.from").alias("src_id"),
        F.col("r.to.primaryAccession").alias("accession"),
        "pos",
    )


def uniprot_first_accession(mapping: DataFrame) -> DataFrame:
    """``map_protein_ensembl_id_to_accession`` (LoaderUtilities.py:555-581,
    "selecting the first if more than one found") as a deterministic
    min_by over response positions: (src_id, accession)."""
    return mapping.groupBy("src_id").agg(
        F.min_by("accession", "pos").alias("accession")
    )


def uniprot_mapping_from_xlsx(spark, path: str) -> DataFrame:
    """S11 via the xlsx download format (UniProtIdMapper.py:240-250
    accepts ``file_format="xlsx"``): the standard From/Entry results
    workbook -> the same (src_id, accession, pos) relation as the JSON
    path, so both downloads feed the identical J7 lookup."""
    from ..sources.xlsx import read_xlsx

    rows = read_xlsx(path, 0)
    header = [str(h) for h in rows[0]]
    i_from, i_entry = header.index("From"), header.index("Entry")
    data = [
        (str(r[i_from]), str(r[i_entry]), pos)
        for pos, r in enumerate(rows[1:])
        if r[i_from] is not None
    ]
    return spark.createDataFrame(data, "src_id string, accession string, pos long")
