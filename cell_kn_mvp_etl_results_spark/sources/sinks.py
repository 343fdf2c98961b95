"""Sinks (SURVEY.md section 2.2).

The reference writes tuples JSON at the pipeline boundary (K1), bulk-
inserts vertices/edges into ArangoDB collections (K3/K4), and copies
path-harvested subgraphs into a second database preferring the full
ontology doc over the path-projected doc (K5,
``PhenotypeGraphBuilder.java:166-223``). Spark-first, the "graph
database" is a set of parquet tables; inserts become partitioned table
writes and the existence-check-before-insert (J12) becomes MERGE-style
anti-join union.

Scale notes: the edges table is written partitioned by
(src_coll, dst_coll) -- the Spark analog of the reference's per-pair
edge collections (``ArangoDbUtilities.py:174``) -- so typed-path hops
prune to exactly the partitions their collection filters name.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType


def write_tuples_json(
    tuples: DataFrame,
    path: str,
    single_file: bool = False,
    reference_framing: bool = False,
) -> None:
    """K1: tuples interchange JSON.

    Default framing is line-delimited rows ``{"tuple": [...]}`` (the
    distributed-friendly form). ``reference_framing=True`` writes the
    reference's single document ``{"tuples": [[s,p,o], [s,o,p,lit],...]}``
    (``NSForestResultsTupleWriter.py:364-375``) for interop with its
    Java loader -- driver-side materialization, appropriate only for
    dimension-scale tuple files (exactly the reference's use).
    Quads carry lit, triples omit it, in both framings.
    """
    arr = (
        F.when(F.col("lit").isNull(), F.array("s", "p", "o"))
        .otherwise(F.array("s", "o", "p", "lit"))
        .alias("tuple")
    )
    out = tuples.select(arr)
    if reference_framing:
        import json
        import os

        # Stream partitions through the driver instead of collect():
        # memory stays one-partition-bounded, and the dimension-scale
        # contract is enforced by code -- a fact-scale frame aborts
        # instead of OOMing the driver.
        limit = 1_000_000
        rows = []
        for r in out.toLocalIterator():
            rows.append(list(r.tuple))
            if len(rows) > limit:
                raise ValueError(
                    "write_tuples_json(reference_framing=True) is for "
                    f"dimension-scale tuple files (> {limit} rows seen); "
                    "use the default line-delimited framing at fact scale"
                )
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "tuples.json"), "w") as f:
            json.dump({"tuples": rows}, f)
        return
    writer = out.coalesce(1) if single_file else out
    writer.write.mode("overwrite").json(path)


def _nullable(*cols: str) -> StructType:
    """Nullable string columns, ``values`` an array of strings."""
    return StructType(
        [
            StructField(c, ArrayType(StringType()) if c == "values" else StringType())
            for c in cols
        ]
    )


# The on-disk column order of each graph table: data columns first,
# partition columns last -- the order schema inference gives a
# partitioned write of graph_from_tuples' outputs (parquet stores every
# column as nullable).
_GRAPH_SCHEMAS = {
    "vertices": _nullable("key", "coll"),
    "vertex_attrs": _nullable("key", "attr", "values", "coll"),
    "edges": _nullable("src_key", "dst_key", "label", "src_coll", "dst_coll"),
    "edge_attrs": _nullable(
        "src_key", "dst_key", "attr", "values", "src_coll", "dst_coll"
    ),
}
_GRAPH_PARTITIONS = {
    "vertices": ("coll",),
    "vertex_attrs": ("coll",),
    "edges": ("src_coll", "dst_coll"),
    "edge_attrs": ("src_coll", "dst_coll"),
}


def write_graph(graph: dict[str, DataFrame], base_path: str) -> None:
    """K3/K4: persist the property graph as parquet tables; edges (and
    edge attrs) partitioned by (src_coll, dst_coll) for partition-pruned
    typed-path queries.

    Each component is written partitioned, once. A partitioned write of
    an EMPTY frame leaves no data file, and a table with no file has no
    schema for a plain ``spark.read.parquet`` to infer (found by driving
    a minimal graph through the CLI). So the table directory is listed
    afterwards through the Hadoop FileSystem API (no Spark job), and a
    write that made no partition directory is redone as ``limit(0)``
    unpartitioned: one empty parquet file that carries the schema. An
    emptiness probe before the write would re-run the component's whole
    lineage."""
    for name, part_cols in _GRAPH_PARTITIONS.items():
        df = graph[name]
        path = os.path.join(base_path, name)
        df.write.mode("overwrite").partitionBy(*part_cols).parquet(path)
        if not _hadoop_has_subdir(df.sparkSession, path):
            df.limit(0).write.mode("overwrite").parquet(path)


def read_graph(spark: SparkSession, base_path: str) -> dict[str, DataFrame]:
    """Read the four tables ``write_graph`` wrote, by the schemas in
    ``_GRAPH_SCHEMAS`` -- the one statement of the on-disk column
    order. A known schema needs no footer-reading Spark job, and an
    empty component (written unpartitioned) reads back with the same
    columns, in the same order, as a full one."""
    return {
        name: spark.read.schema(schema).parquet(os.path.join(base_path, name))
        for name, schema in _GRAPH_SCHEMAS.items()
    }


def upsert_vertices(existing: DataFrame | None, incoming: DataFrame) -> DataFrame:
    """J12/K3: insert-if-absent semantics (the reference's
    ``vertex_collection.has(doc)`` guard, ``OntologyParserLoader.py:1069-1074``)
    as existing UNION (incoming ANTI-JOIN existing) -- idempotent."""
    if existing is None:
        return incoming.dropDuplicates(["coll", "key"])
    fresh = incoming.join(existing.select("coll", "key"), ["coll", "key"], "left_anti")
    return existing.unionByName(fresh.dropDuplicates(["coll", "key"]))


def extract_subgraph(
    edges: DataFrame,
    path_endpoints: DataFrame,
    vertex_attrs: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """T8/K5: phenotype-subgraph extraction -- harvest the vertices and
    edges touched by a query battery's paths, dedupe, and (when the full
    graph's attribute table is supplied) prefer the full vertex doc over
    the path-projected stub (``PhenotypeGraphBuilder.java:166-223``,
    left join + coalesce per SURVEY.md K5).

    ``path_endpoints`` carries (src_coll, src_key, dst_coll, dst_key)
    rows for every traversed edge (the union of the battery's hops), in
    traversal order. An ANY-direction hop walks a stored edge in either
    direction, so a stored edge is touched when it matches a pair in
    either orientation.
    The reference dedupes client-side with an O(n^2) List.contains scan
    (``PhenotypeGraphBuilder.java:125-127``) -- here it is dropDuplicates.
    """
    key = ["src_coll", "src_key", "dst_coll", "dst_key"]
    reversed_pairs = path_endpoints.select(
        *(F.col(a).alias(b) for a, b in zip(key, key[2:] + key[:2]))
    )
    touched_edges = edges.join(
        path_endpoints.select(key).unionByName(reversed_pairs).dropDuplicates(),
        key,
        "left_semi",
    )
    touched_vertices = (
        touched_edges.select(
            F.col("src_coll").alias("coll"), F.col("src_key").alias("key")
        )
        .union(
            touched_edges.select(
                F.col("dst_coll").alias("coll"), F.col("dst_key").alias("key")
            )
        )
        .dropDuplicates()
    )
    out = {"vertices": touched_vertices, "edges": touched_edges.dropDuplicates()}
    if vertex_attrs is not None:
        out["vertex_attrs"] = vertex_attrs.join(
            touched_vertices, ["coll", "key"], "left_semi"
        )
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 32,
    order_col: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Deterministic sharded export -- the training-data handoff at the
    end of a curation pipeline. Each row lands in shard
    ``md5(id) mod n_shards`` (content-addressed: the same doc reaches
    the same shard on any cluster size, partitioning, or retry -- what
    reproducible dataset builds need), rows are sorted within each
    shard by the portable hash (or ``order_col``) so shard FILES are
    byte-stable across runs, and the output is partitioned by ``shard``
    so a trainer can range-read subsets.

    One repartition on the shard key is the only shuffle; at 100 TB the
    write parallelism is n_shards and shard skew is bounded by the
    uniformity of md5. n_shards sizes files: pick corpus_bytes /
    target_file_bytes (e.g. ~512 MB-1 GB per shard file for sequential
    training reads).
    """
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_shards
    ).alias("shard")
    order = F.col(order_col) if order_col else F.md5(F.col(id_col).cast("string"))
    (
        df.withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order)
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )


def read_training_shards(
    spark: SparkSession,
    path: str,
    shards: list[int] | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Read back an exported shard set (``fmt`` must match the
    writer's); ``shards`` selects a subset via partition pruning (a
    trainer's data-parallel rank reads only its shards -- no full
    scan)."""
    df = spark.read.format(fmt).load(path)
    if shards is not None:
        df = df.filter(F.col("shard").isin(*shards))
    return df


def _hadoop_path_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API, so the
    answer is correct for ANY supported scheme (file://, hdfs://,
    s3a://, ...), not just the driver's local disk. Footer-only
    metadata: getContentSummary is a namenode/listing call, no data
    read. Returns 0 for a missing path (callers decide how loud to
    be)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    return int(fs.getContentSummary(jpath).getLength())


def _hadoop_has_subdir(spark: SparkSession, path: str) -> bool:
    """Whether the directory ``path`` holds a subdirectory, listed
    through the Hadoop FileSystem API (any scheme; no Spark job)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return any(st.isDirectory() for st in fs.listStatus(jpath))


def compact_table(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    order_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet table into files sized
    for scan efficiency. The small-files problem is the dominant
    operational failure of incremental lake writes (every streaming
    micro-batch and every per-batch checkpoint append creates files;
    thousands of KB-files make NameNode/listing and scan startup the
    bottleneck, not I/O). Returns the number of output files.

    File count = ceil(input_bytes / target_file_bytes) from the actual
    on-disk footprint (no driver-side data reads). With ``order_by``
    the rewrite range-partitions on those columns first -- compaction
    is the natural moment to also lay data out for pruning (cf. the
    Z-order writer in operators/zorder.py for multi-column layouts);
    otherwise a round-robin repartition balances bytes evenly.

    The rewrite is a distributed copy: scan -> exchange -> write, no
    collect. Write to a NEW path and swap atomically at the metastore/
    manifest layer -- in-place rewrites of live tables are how readers
    observe partial states.

    Sizing goes through the Hadoop FileSystem API, NOT os.walk: the
    paths this targets are usually hdfs://... or s3a://..., where a
    local directory walk silently reports 0 bytes and the whole table
    would be funneled through ONE task into one giant file. An input
    that sizes to 0 bytes raises instead of "compacting" to a single
    partition.
    """
    import math

    total = _hadoop_path_bytes(spark, path)
    if total <= 0:
        raise FileNotFoundError(
            f"compact_table: no bytes found under {path!r} via the Hadoop "
            "FileSystem API -- refusing to rewrite through a single task"
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if order_by:
        df = df.repartitionByRange(n_files, *order_by)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(out_path)
    return n_files
