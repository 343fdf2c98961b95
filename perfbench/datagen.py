"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and returns (or writes)
plain data: the package under test only ever sees the generated files
or tuples. Sizes are fixed per workload, so counts that depend only on
shape (jobs, files, tuples) repeat across seeds; the seed moves names,
values and which vertices connect.
"""

from __future__ import annotations

import csv
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# headliners: a TPC-H-shaped star schema plus documents and embeddings,
# same file names and column types as the package's lake layout.
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "spark table query join scan sort hash group filter window stream "
    "batch value key row column order part line customer data vector "
    "fast slow big small merge agg index cache plan stage task shuffle "
    "graph edge node path tree leaf root"
).split()


def _days(start: str, n: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + n.astype("timedelta64[D]")).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten lake tables under ``out_dir``; return row counts
    and bytes. ``sf`` scales the fact tables like TPC-H's scale factor
    (sf=0.1 -> 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = 2_000
    n_events = int(1_000_000 * sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        }
    )
    adj = np.array(["large", "hot", "blue", "small", "red", "cold"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                noun[rng.integers(0, 5, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"])[
                rng.integers(0, 6, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _cents(rng, 90_000, 100_000, n_part),
        }
    )
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _days("1995-01-01", odate),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lnum.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 100_000, 10_500_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days("1995-01-02", np.repeat(odate, per) + rng.integers(0, 122, n_li)),
        }
    )
    ev_us = np.sort(rng.integers(0, 86_400 * 30 * 1_000_000, n_events))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                rng.integers(0, 5, n_events)
            ],
            "value": _cents(rng, 0, 20_000, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier doc: a few word substitutions,
            # so MinHash-LSH has candidate pairs to find
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 70)))])
        texts.append(" ".join(toks))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_docs)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = (rng.standard_normal((n_emb, 64)) * 0.12).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    info = {"sf": sf, "rows": {}, "bytes": 0}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        info["rows"][name] = t.num_rows
        info["bytes"] += os.path.getsize(path)
    return info


# ---------------------------------------------------------------------------
# phenotype_battery: an ontology-shaped property graph as tuples.
# ---------------------------------------------------------------------------

# (src coll, label, dst coll, edges per src vertex) for every hop the
# 25 reference specs take; hops run ANY-direction, so the stored
# direction only matters for the hierarchy labels below.
BATTERY_LINKS = [
    ("CS", "EXPRESSES", "BGS", 1),
    ("CS", "HAS_CHARACTERIZING_MARKER_SET", "BMC", 1),
    ("BMC", "PART_OF", "BGS", 1),
    ("CS", "COMPOSED_PRIMARILY_OF", "CL", 2),
    ("CS", "SOURCE_DATA_IN", "CSD", 1),
    ("CS", "DERIVES_FROM", "UBERON", 1),
    ("CL", "HAS_EXEMPLAR_DATA", "CSD", 1),
    ("CL", "SELECTIVELY_EXPRESSES", "GS", 2),
    ("CL", "EXPRESSES", "PR", 1),
    ("CL", "IN_TAXON", "NCBITaxon", 1),
    ("CL", "HAS_QUALITY", "PATO", 1),
    ("CL", "PART_OF", "UBERON", 1),
    ("CL", "INVOLVED_IN", "GO", 1),
    ("CSD", "HAS_SOURCE_PUBLICATION", "PUB", 1),
    ("UBERON", "HAS_PART", "CHEBI", 1),
    ("UBERON", "HAS_EXEMPLAR_DATA", "CSD", 1),
    ("UBERON", "EXPRESSES", "GS", 1),
    ("UBERON", "IN_TAXON", "NCBITaxon", 1),
    ("UBERON", "HAS_QUALITY", "PATO", 1),
    ("UBERON", "EXPRESSES", "PR", 1),
    ("UBERON", "INVOLVED_IN", "GO", 1),
    ("GO", "IN_TAXON", "NCBITaxon", 1),
    ("GS", "PART_OF", "BMC", 1),
    ("GS", "EXPRESSED_IN", "UBERON", 1),
    ("GS", "GENETICALLY_ASSOCIATED_WITH", "MONDO", 1),
    ("GS", "PRODUCES", "PR", 1),
    ("GS", "HAS_VARIANT", "RS", 1),
    ("PR", "MOLECULARLY_INTERACTS_WITH", "CHEMBL", 1),
    ("MONDO", "IN_TAXON", "NCBITaxon", 1),
    ("MONDO", "HAS_PHENOTYPE", "HP", 1),
    ("RS", "ASSOCIATED_WITH", "CHEMBL", 1),
    ("CHEMBL", "IS_SUBSTANCE_THAT_TREATS", "MONDO", 1),
    ("CHEMBL", "TARGETS", "PR", 1),
]

# Hierarchy collections and their label (SUB_CLASS_OF / PART_OF DAGs).
HIERARCHIES = {
    "NCBITaxon": "SUB_CLASS_OF",
    "PATO": "SUB_CLASS_OF",
    "GO": "SUB_CLASS_OF",
    "MONDO": "SUB_CLASS_OF",
    "HP": "SUB_CLASS_OF",
    "UBERON": "PART_OF",
}

BATTERY_SIZES = {
    "CS": 12, "BGS": 12, "BMC": 12, "CL": 16, "CSD": 8, "PUB": 8, "GS": 40,
    "PR": 24, "RS": 24, "CHEMBL": 16, "CHEBI": 12,
}
HIERARCHY_DEPTH = 10  # levels below each root: walks of 10 hops, 11 frontier rounds
HIERARCHY_WIDTH = 3  # vertices per level per root
HIERARCHY_ROOTS = 2


def battery_graph_tuples(seed: int) -> tuple[list[tuple], dict]:
    """Tuples (s, p, o, lit) of an ontology-shaped graph that reaches
    every collection the 25 reference specs use.

    Each hierarchy collection is a DAG per root: ``HIERARCHY_DEPTH``
    levels of ``HIERARCHY_WIDTH`` vertices; every vertex points to one
    parent on the level above, and every other vertex to a second one
    (diamonds, so equal-length walks tie and the tie-break decides).
    Cross-collection links pick hierarchy endpoints from every level
    including the roots, as real annotations do."""
    rng = np.random.default_rng(seed)
    verts: dict[str, list[str]] = {}
    tuples: list[tuple] = []

    def key(coll: str, i: int) -> str:
        # seed-dependent keys: the tie-break order between siblings
        # moves with the seed
        h = hashlib.md5(f"{seed}:{coll}:{i}".encode()).hexdigest()[:6]
        return f"{coll}_{h}{i:04d}"

    for coll, n in BATTERY_SIZES.items():
        verts[coll] = [key(coll, i) for i in range(n)]
    depth_of: dict[str, int] = {}
    for coll, label in HIERARCHIES.items():
        names: list[str] = []
        idx = 0
        for _root in range(HIERARCHY_ROOTS):
            levels: list[list[str]] = []
            for lvl in range(HIERARCHY_DEPTH + 1):
                width = 1 if lvl == 0 else HIERARCHY_WIDTH
                level = []
                for _ in range(width):
                    v = key(coll, idx)
                    idx += 1
                    level.append(v)
                    depth_of[v] = lvl
                    if lvl:
                        up = levels[-1]
                        parents = {up[int(rng.integers(0, len(up)))]}
                        if idx % 2 == 0 and len(up) > 1:
                            parents.add(up[int(rng.integers(0, len(up)))])
                        for p in sorted(parents):
                            tuples.append((v, label, p, None))
                levels.append(level)
                names.extend(level)
        verts[coll] = names
    roots = {c: [v for v in verts[c] if depth_of[v] == 0] for c in HIERARCHIES}
    for src, label, dst, fan in BATTERY_LINKS:
        for i, s in enumerate(verts[src]):
            picks = rng.choice(len(verts[dst]), size=fan, replace=False)
            targets = {verts[dst][int(j)] for j in picks}
            if dst in roots and i < len(roots[dst]):
                # the first sources link to the roots, so every walk
                # set starts at a root somewhere
                targets = {roots[dst][i]} | set(sorted(targets)[1:])
            for t in sorted(targets):
                tuples.append((s, label, t, None))
    for coll, names in verts.items():
        for v in names:
            tuples.append((v, "label", f"{coll.lower()} term {v[-4:]}", None))
    info = {
        "tuples": len(tuples),
        "vertices": sum(len(v) for v in verts.values()),
        "hierarchy_depth": HIERARCHY_DEPTH,
        "collections": len(verts),
    }
    return tuples, info


# ---------------------------------------------------------------------------
# etl_load: an NSForest results CSV and an N-Triples ontology.
# ---------------------------------------------------------------------------

N_CLUSTERS = 60
N_GENES = 90  # shared vocabulary: GS vertices collide across clusters
OBO = "http://purl.obolibrary.org/obo/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XREF = "<http://www.geneontology.org/formats/oboInOwl#hasDbXref>"


def write_nsforest_csv(path: str, seed: int) -> dict:
    """NSForest results CSV (FIXTURES.md section 1 columns). Returns
    what the nsforest -> graph-load stages must produce from it."""
    rng = np.random.default_rng(seed)
    genes = [f"G{int(g)}" for g in rng.choice(100_000, N_GENES, replace=False)]
    rows, kept = [], []
    for i in range(N_CLUSTERS):
        name = f"cluster {i} type{int(rng.integers(0, 1000))}"
        size = int(rng.integers(1, 5000)) if i % 10 else int(rng.integers(1, 10))
        # list lengths cycle with the row, so the tuple count is the
        # same for every seed; which genes (and so collisions) vary
        markers = [genes[int(g)] for g in rng.choice(N_GENES, 1 + i % 4, replace=False)]
        binary = [genes[int(g)] for g in rng.choice(N_GENES, 1 + i % 3, replace=False)]
        tp, fp, fn, tn = (int(x) for x in rng.integers(0, 1000, 4))
        row = {
            "clusterName": name,
            "clusterSize": size,
            "f_score": round(float(rng.random()), 4),
            "precision": round(float(rng.random()), 4),
            "TP": tp, "FP": fp, "FN": fn, "TN": tn,
            "marker_count": len(markers),
            "NSForest_markers": str(markers),
            "binary_genes": str(binary),
            "dataset_version_id": f"dv-{int(rng.integers(0, 4))}",
        }
        rows.append(row)
        if size >= 10:  # MIN_CLUSTER_SIZE: smaller clusters are dropped
            kept.append(row)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    return {"rows": rows, "kept": kept, "bytes": os.path.getsize(path)}


def nsforest_expected(kept: list[dict], csv_uri: str) -> dict:
    """Vertex/edge counts and CS->BMC->GS paths the nsforest + graph
    load stages must produce for the kept clusters. The CS/BMC/BGS key
    is the package's documented surrogate: sha256 of
    '<file uri>|<clusterName>', first 12 hex digits."""
    import ast
    import re

    verts, edges, paths = set(), set(), set()
    for r in kept:
        uid = hashlib.sha256(f"{csv_uri}|{r['clusterName']}".encode()).hexdigest()[:12]
        cs = "CS_" + re.sub(r"[ _,/]+", "-", r["clusterName"]) + "-" + uid
        bmc, bgs, csd = f"BMC_{uid}", f"BGS_{uid}", f"CSD_{r['dataset_version_id']}"
        es = [
            (bmc, "rdf:type", "SO_biomarker_combination"),
            (bgs, "rdf:type", "SO_binary_gene_set"),
            (cs, "HAS_CHARACTERIZING_MARKER_SET", bmc),
            (bmc, "PART_OF", bgs),
            (cs, "SOURCE_DATA_IN", csd),
        ]
        for g in ast.literal_eval(r["NSForest_markers"]):
            es.append((f"GS_{g}", "PART_OF", bmc))
            paths.add((cs, bmc, f"GS_{g}"))
        for g in ast.literal_eval(r["binary_genes"]):
            es.append((f"GS_{g}", "PART_OF", bgs))
        for s, p, o in es:
            edges.add((s, p, o))
            verts.update((s, o))
    return {"vertices": len(verts), "edges": len(edges), "paths": sorted(paths)}


def write_ontology_nt(path: str, seed: int) -> dict:
    """N-Triples ontology over CL/UBERON/GO classes: rdfs:subClassOf
    chains, owl:Restriction BNodes (part_of someValuesFrom) and
    owl:Axiom annotations on subClassOf edges, plus owl:Class typing and
    an ontology header that the VALID_VERTICES gate must drop. Returns
    the vertex/edge/edge-annotation counts the ontology load must
    produce."""
    rng = np.random.default_rng(seed)
    colls = {"CL": 120, "UBERON": 80, "GO": 80}
    lines = [f"<{OBO}cl.owl> {RDF_TYPE} <{OWL}Ontology> ."]
    edges: set[tuple] = set()
    annotated: set[tuple] = set()
    n_bnode = 0
    classes = {c: [f"{c}_{int(k):07d}" for k in rng.choice(10**7, n, replace=False)]
               for c, n in colls.items()}
    for coll, names in classes.items():
        for i, term in enumerate(names):
            u = f"<{OBO}{term}>"
            lines.append(f"{u} {RDF_TYPE} <{OWL}Class> .")
            lines.append(f'{u} <{RDFS}label> "{coll.lower()} term {i}" .')
            if i:
                parent = names[int(rng.integers(max(0, i - 8), i))]
                lines.append(f"{u} <{RDFS}subClassOf> <{OBO}{parent}> .")
                edges.add((term, "subClassOf", parent))
                if i % 3 == 0:
                    n_bnode += 1
                    b = f"_:ax{n_bnode}"
                    lines += [
                        f"{b} {RDF_TYPE} <{OWL}Axiom> .",
                        f"{b} <{OWL}annotatedSource> {u} .",
                        f"{b} <{OWL}annotatedProperty> <{RDFS}subClassOf> .",
                        f"{b} <{OWL}annotatedTarget> <{OBO}{parent}> .",
                        f'{b} {XREF} "PMID:{int(rng.integers(1, 10**6))}" .',
                    ]
                    annotated.add((term, parent))
            if coll != "GO" and i % 2 == 0:
                # part_of restriction: X subClassOf (BFO_0000050 some Y)
                n_bnode += 1
                b = f"_:r{n_bnode}"
                filler = classes["UBERON"][int(rng.integers(0, colls["UBERON"]))]
                lines += [
                    f"{u} <{RDFS}subClassOf> {b} .",
                    f"{b} {RDF_TYPE} <{OWL}Restriction> .",
                    f"{b} <{OWL}onProperty> <{OBO}BFO_0000050> .",
                    f"{b} <{OWL}someValuesFrom> <{OBO}{filler}> .",
                ]
                edges.add((term, "BFO_0000050", filler))
    order = rng.permutation(len(lines))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines[i] for i in order) + "\n")
    return {
        "triples": len(lines),
        "vertices": sum(colls.values()),
        "edges": len(edges),
        "edge_attrs": len(annotated),
        "bytes": os.path.getsize(path),
        "valid_colls": sorted(colls),
    }
