"""Entity-resolution lookups (SURVEY.md J3-J8, C5, A2).

The reference holds small id-mapping tables in pandas and resolves ids
with indexed ``.loc`` lookups returning a *list* of matches, callers
taking the first (``LoaderUtilities.py:338-363``, ``:716-719``). The
Spark form: broadcast dimension joins with an explicit multi-match
policy -- 'first' (deterministic min), 'list' (collect_set), or
'unique' (fail on ambiguity). Broadcast keeps the fact side
shuffle-free regardless of fact scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hot_keys


def broadcast_lookup(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    value: str,
    out: str | None = None,
    multi: str = "first",
    default: str | None = None,
) -> DataFrame:
    """Left-join ``facts`` to broadcast ``dim`` on column ``on``; attach
    ``value`` as ``out``.

    multi='first': deterministic first match (min of value) -- the
    reference's caller-takes-first semantics made reproducible.
    multi='list': all matches as a sorted array.
    multi='unique': fail (at action time) if any key maps to more than
    one distinct value -- the dimension is required to be a function.
    ``default``: value when no match (the reference's ``"NA"`` default
    in the schema CURIE join, ``CellKnSchemaUtilities.py:87-107``).
    """
    out = out or value
    if multi == "first":
        d = dim.groupBy(on).agg(F.min(value).alias(out))
    elif multi == "list":
        d = dim.groupBy(on).agg(F.sort_array(F.collect_set(value)).alias(out))
    elif multi == "unique":
        # raise_error is lazy: it only fires on rows where the guard
        # trips, so the check costs one countDistinct in the same agg.
        d = dim.groupBy(on).agg(
            F.when(
                F.count_distinct(F.col(value)) > 1,
                F.raise_error(
                    F.concat(
                        F.lit(f"broadcast_lookup(multi='unique'): ambiguous key in {on!r}: "),
                        F.col(on).cast("string"),
                    )
                ),
            )
            .otherwise(F.max(value))
            .alias(out)
        )
    else:
        raise ValueError(f"unknown multi policy {multi!r}")
    joined = facts.join(F.broadcast(d), on, "left")
    if default is not None and multi == "first":
        joined = joined.withColumn(out, F.coalesce(F.col(out), F.lit(default)))
    return joined


def strip_ensembl_version(col: Column | str) -> Column:
    """A2: normalize versioned Ensembl ids (``ENSG00000228222.1`` ->
    ``ENSG00000228222``; reference ``LoaderUtilities.py:711``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"\.\d+$", "")


def efo_to_mondo(
    facts: DataFrame, efo2mondo: DataFrame, term_col: str, out: str = "mondo"
) -> DataFrame:
    """J4: EFO->MONDO mapping with MONDO passthrough and None for other
    namespaces (reference ``get_mondo_term``,
    ``ExternalApiResultsTupleWriter.py:36-63``)."""
    looked = broadcast_lookup(
        facts.withColumn("_k", F.col(term_col)),
        efo2mondo.select(F.col("EFO").alias("_k"), F.col("MONDO").alias("_v")),
        "_k",
        "_v",
        out="_mapped",
    )
    return looked.withColumn(
        out,
        F.when(F.col(term_col).startswith("MONDO"), F.col(term_col)).otherwise(
            F.col("_mapped")
        ),
    ).drop("_k", "_mapped")


# C5: annotation term normalization (AnnotationResultsTupleWriter.py:93-186)
# -- a when-chain over term types plus small hardcoded patch tables.

# PMID -> DOI patch dimension (AnnotationResultsTupleWriter.py:168-186;
# Jorstad / Guo / Sikkema / Li).
PMID_TO_DOI: dict[str, str] = {
    "37824655": "PUB_doi.org/10.1126/science.adf6812",
    "37516747": "PUB_doi.org/10.1038/s41467-023-40173-5",
    "37291214": "PUB_doi.org/10.1038/s41591-023-02327-2",
    "38014002": "PUB_doi.org/10.1101/2023.11.07.566105",
}

# MeSH -> MONDO hand patches layered over the xref-derived map
# (LoaderUtilities.py:859-873).
MESH_TO_MONDO: dict[str, str] = {
    "MESH:D000077192": "MONDO_0004991",
    "MESH:D000086382": "MONDO_0100096",
    "MESH:D003643": "UBERON_0000071",
    "MESH:D005355": "MONDO_0002771",
}


def patch_dim(spark, mapping: dict[str, str], key: str, value: str) -> DataFrame:
    """A hardcoded patch table as a broadcastable 2-column dimension,
    for composing with ``broadcast_lookup`` (the reference keeps these
    as Python dicts and probes them per row)."""
    return spark.createDataFrame(
        list(mapping.items()), f"{key} string, {value} string"
    )


def _lit_map(mapping: dict[str, str]) -> Column:
    """A literal MAP expression for tiny patch dims: constant-folded by
    Catalyst, cheaper than even a broadcast join at this size."""
    return F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])


def normalize_annotation_term(
    type_col: Column | str,
    name_col: Column | str,
    id_col: Column | str | None = None,
    subject_id_col: Column | str | None = None,
    mesh2mondo: dict[str, str] | None = None,
    pmid2doi: dict[str, str] | None = None,
) -> Column:
    """C5 as a pure expression: the full per-type normalization chain of
    ``AnnotationResultsTupleWriter.normalize_term`` (``:93-186``) --
    unicode cleanup, per-type dispatch on identifier/name, and the
    MeSH->MONDO / PMID->DOI patch-table probes (literal maps here;
    ``patch_dim`` + ``broadcast_lookup`` is the equivalent join form).

    Unmatched Disease/Publication/Gene rows yield NULL, as in the
    reference. Types outside the branch set also yield NULL (the
    reference's implicit fall-through).
    """
    t = F.col(type_col) if isinstance(type_col, str) else type_col
    n = F.col(name_col) if isinstance(name_col, str) else name_col
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    sid = (
        F.col(subject_id_col) if isinstance(subject_id_col, str) else subject_id_col
    )
    # Unicode cleanup (reference :113-122): the γδ *pair* becomes
    # "gamma-delta"; U+2212 minus becomes ASCII hyphen in name and id.
    n = F.regexp_replace(F.regexp_replace(n, "γδ", "gamma-delta"), "−", "-")
    if i is not None:
        i = F.regexp_replace(i, "−", "-")
    hyph = F.regexp_replace(n, r"[ _,/]+", "-")
    sid_prefix = F.substring_index(sid, "-", 1) if sid is not None else F.lit(None)
    colon_to_us = (lambda c: F.replace(c, F.lit(":"), F.lit("_"))) if i is not None else None
    gene = F.regexp_replace(n, "Myelin basic protein", "MBP")
    mesh_map = _lit_map(mesh2mondo if mesh2mondo is not None else MESH_TO_MONDO)
    pmid_map = _lit_map(pmid2doi if pmid2doi is not None else PMID_TO_DOI)

    chain = F.when(
        t == "Biomarker_combination",
        F.concat(F.lit("BMC_"), n, F.lit("-"), sid_prefix),
    ).when(
        t == "Cell_set",
        F.concat(F.lit("CS_"), hyph, F.lit("-"), sid_prefix),
    )
    if i is not None:
        chain = (
            chain.when(t.isin("Anatomical_structure", "Assay"), colon_to_us(i))
            .when(t == "Cell_set_dataset", F.replace(i, F.lit("NLP_dataset"), F.lit("CSD")))
            .when(
                t == "Cell_type",
                colon_to_us(F.replace(i, F.lit("<skos:related>"), F.lit(""))),
            )
            .when(t == "Disease", F.element_at(mesh_map, i))
            .when(t == "Publication", F.element_at(pmid_map, i))
        )
    return chain.when(
        t == "Gene",
        # reference gate: name unchanged by upper() -> gene symbol
        F.when(gene == F.upper(gene), F.concat(F.lit("GS_"), gene)),
    ).otherwise(F.lit(None))


def fuzzy_key_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    max_posting: int | None = 1000,
) -> DataFrame:
    """All id pairs whose keys are within Levenshtein distance 1 --
    spelling-variant entity resolution (the reference normalizes entity
    ids by hand-maintained patch tables, ``LoaderUtilities.py:716-719``;
    this finds the near-miss keys those tables are built from).

    FastSS deletion-neighborhood join (Bocek et al., 2007): every key
    emits its full form plus each single-deletion variant; two keys are
    within distance 1 iff they share a variant (substitution: same
    deletion position; insert/delete: one's deletion equals the other's
    full form; equality: full forms match). Candidates from the variant
    equi-join are verified with the exact Levenshtein distance, so the
    output is exact -- the neighborhood join only bounds the candidate
    space, never the answer.

    Scale shape: |key|+1 variant rows per key, shuffled on the variant
    string (bounded key), then an equi-join -- never an all-pairs edit
    distance. ``max_posting`` anti-joins out degenerate variants shared
    by more than the cap (e.g. a ubiquitous prefix after one deletion)
    -- the Jaccard posting cap's stop-key rule (``dedup.hot_keys``).

    Returns (id_a, id_b, key_a, key_b, dist), id_a < id_b, dist <= 1.
    """
    keyed = df.select(F.col(id_col).alias("id"), F.col(key_col).alias("key"))
    variants = keyed.select(
        "id",
        "key",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length("key")),
                    lambda i: F.when(i == 0, F.col("key")).otherwise(
                        F.concat(
                            F.substring(F.col("key"), 1, i - 1),
                            F.substring(
                                F.col("key"),
                                (i + 1).cast("int"),
                                F.length("key") - i,
                            ),
                        )
                    ),
                )
            )
        ).alias("variant"),
    )
    if max_posting is not None:
        hot = hot_keys(variants, "variant", max_posting)
        variants = variants.join(F.broadcast(hot), "variant", "left_anti")
    a = variants.select(
        F.col("id").alias("id_a"), F.col("key").alias("key_a"), "variant"
    )
    b = variants.select(
        F.col("id").alias("id_b"), F.col("key").alias("key_b"), "variant"
    )
    cand = (
        a.join(b, "variant")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "key_a", "key_b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        F.levenshtein("key_a", "key_b").alias("dist"),
    ).filter(F.col("dist") <= 1)
