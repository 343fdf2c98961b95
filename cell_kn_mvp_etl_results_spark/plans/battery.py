"""Typed-path query battery (SURVEY.md J10/J11/T8, section 3.3).

The reference enumerates 25 parameterized AQL traversals
(``AqlQuerySetBuilder.java:28-351``; battery at
``PhenotypeGraphBuilder.java:50-92``): anchor over a start collection,
1-5 ANY-direction hops with per-hop collection filters, optionally
extended by a longest (<=64-hop) single-label hierarchy walk from the
final vertex. This module is the Spark compiler for those specs:

    PathSpec("CS-CL-GO", anchor="CS", hops=["CL", "GO"],
             hierarchy=HierarchySpec(label="subClassOf"))

compiles to the k_hop join chain + the frontier-loop hierarchy
extension, and ``run_battery`` unions every spec's touched edges for
T8 subgraph extraction. Catalyst plans each chain (pushdown, broadcast
of small frontiers); the battery is embarrassingly parallel across
specs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import hierarchy_longest_path, k_hop, split_term


@dataclass(frozen=True)
class HierarchySpec:
    label: str
    max_depth: int = 64  # reference cap: AqlQuerySetBuilder.java:96


@dataclass(frozen=True)
class PathSpec:
    name: str
    anchor: str  # start collection
    hops: list[str] = field(default_factory=list)
    any_direction: bool = True  # AQL traversals run ANY by default
    hierarchy: HierarchySpec | None = None


def run_path_spec(
    vertices: DataFrame, edges: DataFrame, spec: PathSpec
) -> DataFrame:
    """One spec -> path rows (v0_coll, v0_key, node_coll, node_key,
    path, labels[, hierarchy_path, hierarchy_depth])."""
    start = vertices.filter(F.col("coll") == spec.anchor)
    paths = k_hop(edges, start, spec.hops, any_direction=spec.any_direction)
    if spec.hierarchy is None:
        return paths
    # Hierarchy extension: longest label-constrained OUTBOUND walk from
    # each distinct terminal vertex, joined back onto the paths
    # (AqlQuerySetBuilder.java:77-119 -- the FIRST(...) subquery).
    terminals = paths.select(
        F.col("node_coll").alias("coll"), F.col("node_key").alias("key")
    ).dropDuplicates()
    ext = hierarchy_longest_path(
        edges, terminals, label=spec.hierarchy.label, max_depth=spec.hierarchy.max_depth
    ).select(
        F.col("start").alias("_terminal"),
        F.col("depth").alias("hierarchy_depth"),
        F.col("path").alias("hierarchy_path"),
    )
    keyed = paths.withColumn(
        "_terminal", F.concat_ws("_", "node_coll", "node_key")
    )
    return keyed.join(ext, "_terminal", "left").drop("_terminal")


def touched_edges(paths: DataFrame) -> DataFrame:
    """Edge endpoints traversed by a spec's paths (for T8 extraction):
    consecutive path entries -> (src_coll, src_key, dst_coll, dst_key).

    Hierarchy-extension walks count as touched too: the reference
    FLATTENs the hierarchy sub-path's vertices/edges into each returned
    path (``AqlQuerySetBuilder.java:104-116``), so the phenotype copy
    includes them.
    """

    def _pairs(arr):
        # NULL below two entries (explode then drops the row): a one-node
        # path has no edge, and sequence(1, 0) would count down to 0.
        return F.when(
            F.size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("src"),
                    F.element_at(arr, i + 1).alias("dst"),
                ),
            ),
        )

    pairs = paths.select(F.explode(_pairs(F.col("path"))).alias("e"))
    if "hierarchy_path" in paths.columns:
        # hierarchy_longest_path emits a "/"-joined node-id string;
        # explode drops the NULL arrays of terminals with no hierarchy
        pairs = pairs.unionByName(
            paths.select(
                F.explode(_pairs(F.split("hierarchy_path", "/"))).alias("e")
            )
        )
    # Dedup BEFORE the split (r12, guide §2.3 "shuffle fewer bytes"):
    # the distinct shuffle carries the 2-string (src, dst) struct
    # instead of 4 split columns, and the substring_index /
    # regexp_replace projections run on distinct pairs only. The split
    # is injective (src = coll || '_' || key reconstructs it), so
    # dedup-before equals dedup-after and the output stays distinct.
    s_coll, s_key = split_term("e.src")
    d_coll, d_key = split_term("e.dst")
    return pairs.dropDuplicates().select(
        s_coll.alias("src_coll"),
        s_key.alias("src_key"),
        d_coll.alias("dst_coll"),
        d_key.alias("dst_key"),
    )


def reference_battery() -> list[PathSpec]:
    """The reference's 25 concrete traversal instances, as data
    (``PhenotypeGraphBuilder.java:50-92``; query shapes
    ``AqlQuerySetBuilder.java:28-351``): every query anchors on the CS
    collection, runs 1-5 ANY-direction hops with per-hop collection
    filters, and the *WithHierarchy variants extend the final vertex by
    its longest (<=64) OUTBOUND walk along a single edge label
    (SUB_CLASS_OF or PART_OF). Names are the hop chain;
    ``+<LABEL>`` marks the hierarchy extension.
    """
    two = [
        ("BMC", "BGS"), ("CL", "CSD"), ("CL", "GS"), ("CL", "PR"),
        ("CSD", "PUB"), ("UBERON", "CHEBI"), ("UBERON", "CSD"),
        ("UBERON", "GS"), ("UBERON", "NCBITaxon"), ("UBERON", "PATO"),
        ("UBERON", "PR"),
    ]
    two_h = [
        (("CL", "NCBITaxon"), "SUB_CLASS_OF"),
        (("CL", "PATO"), "SUB_CLASS_OF"),
        (("CL", "UBERON"), "PART_OF"),
        (("UBERON", "GO"), "SUB_CLASS_OF"),
    ]
    three = [("CL", "GO", "NCBITaxon"), ("CL", "GS", "BMC"), ("CL", "GS", "UBERON")]
    three_h = [(("CL", "GS", "MONDO"), "SUB_CLASS_OF")]
    four = [("CL", "GS", "PR", "CHEMBL"), ("CL", "GS", "MONDO", "NCBITaxon")]
    four_h = [(("CL", "GS", "MONDO", "HP"), "SUB_CLASS_OF")]
    five = [
        ("CL", "GS", "RS", "CHEMBL", "MONDO"),
        ("CL", "GS", "RS", "CHEMBL", "PR"),
    ]

    def spec(hops: tuple[str, ...], label: str | None = None) -> PathSpec:
        name = "CS-" + "-".join(hops) + (f"+{label}" if label else "")
        return PathSpec(
            name,
            anchor="CS",
            hops=list(hops),
            hierarchy=HierarchySpec(label=label) if label else None,
        )

    return (
        [spec(("BGS",))]
        + [spec(h) for h in two]
        + [spec(h, l) for h, l in two_h]
        + [spec(h) for h in three]
        + [spec(h, l) for h, l in three_h]
        + [spec(h) for h in four]
        + [spec(h, l) for h, l in four_h]
        + [spec(h) for h in five]
    )


def run_battery(
    vertices: DataFrame, edges: DataFrame, specs: list[PathSpec]
) -> dict[str, DataFrame]:
    """Run every spec; return per-spec paths plus the union of touched
    edges (input to sinks.extract_subgraph -- the phenotype copy,
    ``PhenotypeGraphBuilder.java:48-258``)."""
    results: dict[str, DataFrame] = {}
    union: DataFrame | None = None
    for spec in specs:
        paths = run_path_spec(vertices, edges, spec)
        results[spec.name] = paths
        te = touched_edges(paths)
        union = te if union is None else union.unionByName(te)
    results["_touched_edges"] = (
        union.dropDuplicates() if union is not None else None
    )
    return results
