"""DuckDB oracles and order-insensitive row digests.

Expected results are computed during set-up, outside every timed
region, from the generated inputs -- never from the package's own
output.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import time

import duckdb

LAKE_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _fix(v):
    if isinstance(v, (list, tuple)):
        return tuple(_fix(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return int(v) if v == int(v) else float(v)
    return v


def digest(rows, cols) -> tuple[int, str]:
    """(row count, sha256) of the rows with columns sorted by name and
    rows sorted by value: equal digests mean equal multisets of rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(_fix(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr((sorted(cols), norm)).encode())
    return len(norm), h.hexdigest()


def headliner_digests(lake: str, sql: dict[str, str]) -> tuple[dict, float]:
    """Digest of every query's oracle rows, and the summed wall time of
    each statement's first call (the DuckDB reference point)."""
    con = duckdb.connect()
    try:
        for t in LAKE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
        out, first_call = {}, 0.0
        for name, q in sql.items():
            t0 = time.perf_counter()
            res = con.execute(q)
            rows = res.fetchall()
            first_call += time.perf_counter() - t0
            out[name] = digest(rows, [d[0] for d in res.description])
        return out, first_call
    finally:
        con.close()


def _split(term: str) -> tuple[str, str]:
    coll, _, key = term.partition("_")
    return coll, key


def _load_edges(con, edges: list[tuple[str, str, str]]) -> None:
    """edges(src, dst, label) plus the ANY-direction view ue with a
    direction-normalised edge id (uniqueEdges=path)."""
    con.execute("CREATE TABLE edges(src VARCHAR, dst VARCHAR, label VARCHAR)")
    con.executemany("INSERT INTO edges VALUES (?, ?, ?)", sorted(set(edges)))
    con.execute("""
CREATE VIEW ue AS
SELECT a, b, split_part(b, '_', 1) AS b_coll, label,
       least(a, b) || '|' || greatest(a, b) || '|' || label AS eid
FROM (SELECT src AS a, dst AS b, label FROM edges
      UNION ALL SELECT dst AS a, src AS b, label FROM edges)
""")


def _path_sql(anchor: str, hops: list[str]) -> str:
    """Exact-length ANY-direction typed path, one row per path, never
    reusing an undirected edge (AQL uniqueEdges=path)."""
    joins, eids = [], []
    prev = "s.v"
    for i, coll in enumerate(hops, 1):
        cond = [f"e{i}.a = {prev}", f"e{i}.b_coll = '{coll}'"]
        cond += [f"e{i}.eid <> {e}" for e in eids]
        joins.append(f"JOIN ue e{i} ON " + " AND ".join(cond))
        eids.append(f"e{i}.eid")
        prev = f"e{i}.b"
    k = len(hops)
    path = ", ".join(["s.v"] + [f"e{i}.b" for i in range(1, k + 1)])
    labels = ", ".join(f"e{i}.label" for i in range(1, k + 1))
    return f"""
SELECT s.v AS v0, e{k}.b AS node, [{path}] AS path, [{labels}] AS labels
FROM (SELECT DISTINCT src AS v FROM edges WHERE split_part(src, '_', 1) = '{anchor}'
      UNION SELECT DISTINCT dst FROM edges WHERE split_part(dst, '_', 1) = '{anchor}') s
{chr(10).join(joins)}
"""


_HIER_SQL = """
WITH RECURSIVE walk(start, node, depth, path, visited) AS (
  SELECT t, t, 0, t, [t] FROM terminals
  UNION ALL
  SELECT w.start, e.dst, w.depth + 1, w.path || '/' || e.dst,
         list_append(w.visited, e.dst)
  FROM walk w JOIN edges e ON e.src = w.node AND e.label = ?
  WHERE NOT list_contains(w.visited, e.dst) AND w.depth < ?
)
SELECT start, depth, path FROM (
  SELECT *, row_number() OVER (PARTITION BY start ORDER BY depth DESC, path) AS rn
  FROM walk) WHERE rn = 1
"""


def path_rows(con, anchor: str, hops: list[str], hierarchy=None) -> tuple[list, list]:
    """Rows and column names of one battery spec in the package's
    output shape. ``hierarchy`` is (label, max_depth): each terminal
    gets its longest 1..max_depth OUTBOUND walk along that label, ties
    broken by the smallest path string; a terminal with no such walk
    keeps the zero-length walk (depth 0, path = itself), which is how
    the package encodes "no extension"."""
    paths = con.execute(_path_sql(anchor, hops)).fetchall()
    cols = ["v0_coll", "v0_key", "node_coll", "node_key", "path", "labels"]
    ext = {}
    if hierarchy is not None:
        label, max_depth = hierarchy
        con.execute("CREATE OR REPLACE TEMP TABLE terminals(t VARCHAR)")
        con.executemany(
            "INSERT INTO terminals VALUES (?)", [(n,) for n in sorted({p[1] for p in paths})]
        )
        ext = {s: (d, p) for s, d, p in con.execute(_HIER_SQL, [label, max_depth]).fetchall()}
        cols += ["hierarchy_depth", "hierarchy_path"]
    rows = []
    for v0, node, path, labels in paths:
        row = [*_split(v0), *_split(node), list(path), list(labels)]
        if hierarchy is not None:
            row += list(ext[node])
        rows.append(tuple(row))
    return rows, cols


def battery_expected(edges: list[tuple[str, str, str]], specs) -> dict:
    """Digest per reference spec over the generated edges, plus the
    phenotype subgraph every spec's paths touch: each traversed edge
    (hops in either stored direction, hierarchy walks outbound) and
    its endpoints."""
    con = duckdb.connect()
    try:
        _load_edges(con, edges)
        out, touched = {}, set()
        stored = {(s, d): set() for s, d, _ in edges}
        for s, d, lbl in edges:
            stored[(s, d)].add(lbl)
        for spec in specs:
            hier = None
            if spec.hierarchy is not None:
                hier = (spec.hierarchy.label, spec.hierarchy.max_depth)
            rows, cols = path_rows(con, spec.anchor, list(spec.hops), hier)
            out[spec.name] = digest(rows, cols)
            for r in rows:
                walk = list(r[4])
                if hier is not None:
                    walk_h = r[7].split("/")
                    touched.update(zip(walk_h, walk_h[1:]))
                touched.update(zip(walk, walk[1:]))
        sub_edges = set()
        for a, b in touched:
            for s, d in ((a, b), (b, a)):
                for lbl in stored.get((s, d), ()):
                    sub_edges.add((*_split(s), *_split(d), lbl))
        sub_verts = {(c, k) for e in sub_edges for c, k in ((e[0], e[1]), (e[2], e[3]))}
        out["_subgraph"] = (len(sub_verts), len(sub_edges))
        return out
    finally:
        con.close()


def etl_query_digest(edges: list[tuple[str, str, str]], anchor: str, hops: list[str]):
    """Digest of the typed-path query over the edges the load stages
    must write."""
    con = duckdb.connect()
    try:
        _load_edges(con, edges)
        rows, cols = path_rows(con, anchor, hops)
        return digest(rows, cols)
    finally:
        con.close()
