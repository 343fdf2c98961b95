"""Tests for sinks (tuples JSON round-trip, partitioned graph tables,
upsert, subgraph extraction) and the restartable fetch cache."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators.graph import graph_from_tuples
from cell_kn_mvp_etl_results_spark.sources import fetch_cache, sinks
from cell_kn_mvp_etl_results_spark.sources.readers import read_tuples_json


def tuples_df(spark):
    rows = [
        ("CL_1", "subClassOf", "CL_2", None),
        ("CL_1", "label", "macrophage", None),
        ("CL_1", "source", "CL_2", "PMID:1"),
        ("GO_3", "part_of", "CL_2", None),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string, lit string")


def test_tuples_json_roundtrip(spark, tmp_path):
    """K1 write -> S6-style read preserves triple/quad semantics.

    The written framing is line-delimited arrays; read back via a thin
    shim that mirrors read_tuples_json's classification.
    """
    path = str(tmp_path / "tuples")
    sinks.write_tuples_json(tuples_df(spark), path, single_file=True)
    raw = spark.read.json(path)
    n = F.size("tuple")
    back = raw.select(
        F.element_at("tuple", 1).alias("e1"),
        F.element_at("tuple", 2).alias("e2"),
        F.element_at("tuple", 3).alias("e3"),
        F.when(n == 4, F.element_at("tuple", 4)).alias("e4"),
    ).select(
        F.col("e1").alias("s"),
        F.when(F.col("e4").isNull(), F.col("e2")).otherwise(F.col("e3")).alias("p"),
        F.when(F.col("e4").isNull(), F.col("e3")).otherwise(F.col("e2")).alias("o"),
        F.col("e4").alias("lit"),
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, tuples_df(spark).collect())
    )


def test_reference_framing_roundtrip(spark, tmp_path):
    """The reference's single-document {"tuples": [...]} framing reads
    back through read_tuples_json's multiLine branch."""
    path = str(tmp_path / "ref_tuples")
    sinks.write_tuples_json(tuples_df(spark), path, reference_framing=True)
    import json

    doc = json.load(open(path + "/tuples.json"))
    assert set(doc) == {"tuples"} and len(doc["tuples"]) == 4
    back = read_tuples_json(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, tuples_df(spark).collect())
    )


def test_write_read_graph_partitioned(spark, tmp_path):
    base = str(tmp_path / "graph")
    g = graph_from_tuples(tuples_df(spark))
    sinks.write_graph(g, base)
    # partition layout: edges/src_coll=CL/dst_coll=CL/...
    assert os.path.isdir(os.path.join(base, "edges", "src_coll=CL", "dst_coll=CL"))
    back = sinks.read_graph(spark, base)
    assert back["edges"].count() == g["edges"].count()
    assert back["vertices"].count() == g["vertices"].count()


def test_empty_components_read_back_like_full(spark, tmp_path):
    """An empty component is written unpartitioned (a partitioned write
    of no rows leaves no file to carry the schema), yet read_graph
    returns it with the columns, in the order, of a full one; a plain
    schema-less read still loads it."""
    full = str(tmp_path / "full")
    sinks.write_graph(graph_from_tuples(tuples_df(spark)), full)
    want = {
        n: spark.read.parquet(os.path.join(full, n)).columns
        for n in sinks._GRAPH_SCHEMAS
    }
    no_quads = tuples_df(spark).filter(F.col("lit").isNull())
    for label, tuples, empty in (
        ("no_quads", no_quads, {"edge_attrs"}),
        ("no_tuples", tuples_df(spark).limit(0), set(want)),
    ):
        base = str(tmp_path / label)
        sinks.write_graph(graph_from_tuples(tuples), base)
        back = sinks.read_graph(spark, base)
        assert {n: df.columns for n, df in back.items()} == want, label
        for name in empty:
            assert back[name].count() == 0, (label, name)
            assert spark.read.parquet(os.path.join(base, name)).count() == 0


def test_read_graph_runs_no_job_and_schemas_match_inference(spark, tmp_path):
    """read_graph plans from _GRAPH_SCHEMAS, so it submits no Spark job;
    each entry is exactly what inference reads from a full graph, so
    the dict cannot drift from graph_from_tuples' outputs."""
    from test_cache_lifecycle import _jobs_in

    base = str(tmp_path / "graph")
    sinks.write_graph(graph_from_tuples(tuples_df(spark)), base)
    g, jobs = _jobs_in(spark, lambda: sinks.read_graph(spark, base))
    assert jobs == []
    _, jobs = _jobs_in(spark, g["edges"].collect)
    assert jobs  # the job group does see the jobs a read runs
    for name, schema in sinks._GRAPH_SCHEMAS.items():
        assert spark.read.parquet(os.path.join(base, name)).schema == schema, name
        assert g[name].schema == schema, name


def test_upsert_vertices_idempotent(spark):
    a = spark.createDataFrame([("CL", "1"), ("CL", "2")], "coll string, key string")
    b = spark.createDataFrame([("CL", "2"), ("GO", "3")], "coll string, key string")
    once = sinks.upsert_vertices(a, b)
    assert sorted(map(tuple, once.collect())) == [("CL", "1"), ("CL", "2"), ("GO", "3")]
    twice = sinks.upsert_vertices(once, b)
    assert twice.count() == 3


def test_extract_subgraph_prefers_full_doc(spark):
    g = graph_from_tuples(tuples_df(spark))
    # battery touched only the CL_1 -> CL_2 edge
    touched = spark.createDataFrame(
        [("CL", "1", "CL", "2")],
        "src_coll string, src_key string, dst_coll string, dst_key string",
    )
    sub = sinks.extract_subgraph(g["edges"], touched, g["vertex_attrs"])
    assert sub["edges"].count() == 1
    verts = sorted(map(tuple, sub["vertices"].collect()))
    assert verts == [("CL", "1"), ("CL", "2")]
    # full vertex doc (label attr) came along for CL_1
    attrs = {(r.coll, r.key, r.attr) for r in sub["vertex_attrs"].collect()}
    assert ("CL", "1", "label") in attrs


def test_fetch_cache_restartable(spark, tmp_path):
    cache = str(tmp_path / "cache")
    req = spark.createDataFrame([(i,) for i in range(7)], "id long")
    calls = []

    def fake_fetch(ids):
        calls.append(list(ids))
        return [{"id": i, "value": f"v{i}"} for i in ids]

    out = fetch_cache.fetch_with_checkpoints(
        spark, req, cache, "id", fake_fetch, "id long, value string", batch_size=3
    )
    assert out.count() == 7
    assert [len(c) for c in calls] == [3, 3, 1]  # checkpoint cadence

    # restart: nothing left to fetch
    calls.clear()
    out2 = fetch_cache.fetch_with_checkpoints(
        spark, req, cache, "id", fake_fetch, "id long, value string", batch_size=3
    )
    assert out2.count() == 7 and calls == []

    # new ids arrive: only the delta is fetched
    req2 = spark.createDataFrame([(i,) for i in range(9)], "id long")
    fetch_cache.fetch_with_checkpoints(
        spark, req2, cache, "id", fake_fetch, "id long, value string", batch_size=3
    )
    assert calls == [[7, 8]]


def test_training_shard_export_deterministic(spark, sf_dir, tmp_path):
    """Shard membership is content-addressed (stable across runs and
    partitioning); subset reads prune to the selected shards."""
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table
    from cell_kn_mvp_etl_results_spark.sources.sinks import (
        read_training_shards,
        write_training_shards,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(d, p1, "doc_id", n_shards=4)
    write_training_shards(d.repartition(13), p2, "doc_id", n_shards=4)

    a = {(r.shard, r.doc_id) for r in read_training_shards(spark, p1).collect()}
    b = {(r.shard, r.doc_id) for r in read_training_shards(spark, p2).collect()}
    assert a == b and len(a) == d.count()  # same membership, nothing lost
    assert {s for s, _ in a} == {0, 1, 2, 3}

    subset = read_training_shards(spark, p1, shards=[1, 2])
    assert {r.shard for r in subset.collect()} <= {1, 2}
    plan = subset._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan  # pruned, not scanned+filtered


def test_training_shards_orc_roundtrip(spark, tmp_path):
    """Shard export in ORC (Spark-native columnar alternative): same
    content-addressed membership, readable back with identical rows."""
    from pyspark.sql import functions as F

    from cell_kn_mvp_etl_results_spark.sources.sinks import (
        read_training_shards,
        write_training_shards,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 13).alias("score")
    )
    out = str(tmp_path / "orc_shards")
    write_training_shards(df, out, "doc_id", n_shards=4, fmt="orc")
    back = read_training_shards(spark, out, fmt="orc")
    assert sorted(map(tuple, back.select("doc_id", "score").collect())) == sorted(
        map(tuple, df.collect())
    )
    assert back.select("shard").distinct().count() == 4


def test_compact_table_merges_small_files(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.sources.sinks import compact_table
    import os

    src = str(tmp_path / "fragmented")
    # 64 tiny files -- the incremental-append pathology
    spark.range(10_000).repartition(64).write.parquet(src)
    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in == 64

    out = str(tmp_path / "compacted")
    n = compact_table(spark, src, out, target_file_bytes=1 << 30)
    n_out = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n == 1 and n_out == 1
    # content preserved exactly
    assert (
        sorted(r.id for r in spark.read.parquet(out).collect())
        == list(range(10_000))
    )


def test_compact_table_range_layout_prunes(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.sources.sinks import compact_table
    import os

    src = str(tmp_path / "frag2")
    spark.range(100_000).withColumnRenamed("id", "k").repartition(32).write.parquet(src)
    out = str(tmp_path / "ranged")
    # force multiple output files, range-laid-out on k
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src) if f.endswith(".parquet")
    )
    n = compact_table(spark, src, out, target_file_bytes=total // 4 + 1,
                      order_by=["k"])
    assert n >= 2
    # range layout -> per-file k-ranges are disjoint (what lets the
    # parquet reader prune whole files on a tight filter)
    import pyspark.sql.functions as F

    spans = []
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            r = (
                spark.read.parquet(os.path.join(out, f))
                .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
                .collect()[0]
            )
            spans.append((r.lo, r.hi))
    spans.sort()
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    assert spark.read.parquet(out).filter("k < 100").count() == 100


def test_compact_table_raises_on_missing_path(spark, tmp_path):
    """Sizing goes through the Hadoop FS API; a path with no bytes must
    raise, never default to n_files=1 (which would rewrite the whole
    table through one task -- the silent failure mode of the old
    os.walk sizing on any non-local scheme)."""
    from cell_kn_mvp_etl_results_spark.sources.sinks import compact_table

    import pytest

    with pytest.raises(FileNotFoundError):
        compact_table(
            spark, str(tmp_path / "nope"), str(tmp_path / "out")
        )
