"""The r8 materialized-intermediates posture (plans/materialized.py):
the DEFAULT call path of every simhash/jaccard graph consumer serves
from the auto-build-or-reuse bucketed tables, and must be row-identical
to the original in-query computation (SPARK_GRAFT_SERVING=off)."""

from __future__ import annotations

import os

import pytest

from cell_kn_mvp_etl_results_spark.plans import REGISTRY

REWIRED = [
    "q_dedup_clusters",
    "q_dedup_exemplar",
    "q_split_leakage_safe",
    "q_degree_hist",
    "q_modularity",
    "q_dup_triangles",
    "q_clustering_coeff",
    "q_pagerank",
    "q_communities",
    "q_kcore",
    "q_entity_resolution",
]


def _rows(name, spark, sf_dir, monkeypatch, level: str):
    monkeypatch.setenv("SPARK_GRAFT_SERVING", level)
    return sorted(map(tuple, REGISTRY[name].builder(spark, sf_dir).collect()))


@pytest.mark.parametrize("name", REWIRED)
def test_materialized_default_is_row_identical_to_inline(
    spark, sf_dir, name, monkeypatch
):
    inline = _rows(name, spark, sf_dir, monkeypatch, "off")
    materialized = _rows(name, spark, sf_dir, monkeypatch, "derived")
    assert inline == materialized
    assert len(inline) > 0


def test_materialized_table_survives_and_serves_reuse(spark, sf_dir):
    # Second call must hit tier 1 (catalog) -- no rebuild. We can't
    # observe job counts cheaply here, but we can assert the table
    # exists after first use and that a re-read returns the same rows.
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        _auto_name,
        physical_table_name,
        simhash_pairs_frame,
    )

    a = sorted(map(tuple, simhash_pairs_frame(spark, sf_dir).collect()))
    table = physical_table_name(
        _auto_name("simhash_pairs_auto", sf_dir, 32, 1), "id_a", 32
    )
    # Tier 1 (built this session -> catalog) or tier 2 (surviving
    # on-disk table from a previous session, read directly): either
    # way the materialization must exist on disk after first use.
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert spark.catalog.tableExists(table) or os.path.exists(
        f"{wh}/{table}/_SUCCESS"
    )
    b = sorted(map(tuple, simhash_pairs_frame(spark, sf_dir).collect()))
    assert a == b


def test_stale_fingerprint_gets_its_own_table(spark, sf_dir, tmp_path):
    # A different corpus (fingerprint) must never serve another's rows:
    # the name itself carries the fingerprint.
    from cell_kn_mvp_etl_results_spark.plans.materialized import _auto_name

    n1 = _auto_name("x", sf_dir)
    n2 = _auto_name("x", sf_dir, "other-params")
    assert n1 != n2


def test_ensure_table_recovers_from_partial_write(spark, sf_dir):
    # An orphaned directory WITHOUT _SUCCESS (a crashed write) must be
    # deleted and rebuilt, not served or fatal.
    import uuid

    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        _warehouse_dir,
        ensure_table,
        physical_table_name,
    )

    table = f"mat_test_{uuid.uuid4().hex[:8]}"
    # plant the orphan at the PHYSICAL (spec-folded) path ensure_table
    # builds into
    path = _warehouse_dir(spark, physical_table_name(table, "id", 32))
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/part-orphan.parquet")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    out.write(bytearray(b"not parquet"))
    out.close()

    def build():
        return spark.range(5).selectExpr("id", "id * 2 AS v")

    got = sorted(map(tuple, ensure_table(spark, table, build, "id").collect()))
    assert got == [(i, 2 * i) for i in range(5)]
    # second call serves tier 1 (catalog) -- same rows, no rebuild error
    again = sorted(map(tuple, ensure_table(spark, table, build, "id").collect()))
    assert again == got
    spark.sql(
        f"DROP TABLE IF EXISTS {physical_table_name(table, 'id', 32)}"
    )
    root = jvm.org.apache.hadoop.fs.Path(path)
    if fs.exists(root):
        fs.delete(root, True)


def test_register_surviving_bucketed_restores_layout(spark):
    # r10: a bucketed table whose catalog entry died with a previous
    # session must be re-registered from its surviving directory WITH
    # its bucketed+sorted layout -- the copy simulates "files on disk,
    # no catalog entry".
    import os
    import shutil

    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        _warehouse_dir,
        register_surviving_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS rsb_src")
    spark.sql("DROP TABLE IF EXISTS rsb_copy")
    df = spark.range(5000).selectExpr("id AS k", "id * 3 AS v")
    (
        df.repartition(8, "k")
        .write.mode("overwrite")
        .bucketBy(8, "k")
        .sortBy("k")
        .saveAsTable("rsb_src")
    )
    src = _warehouse_dir(spark, "rsb_src").replace("file:", "")
    dst = _warehouse_dir(spark, "rsb_copy").replace("file:", "")
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    shutil.copytree(src, dst)

    rec = register_surviving_bucketed(spark, "rsb_copy", "k", 8)
    assert rec is not None
    assert sorted(map(tuple, rec.collect())) == sorted(
        map(tuple, spark.table("rsb_src").collect())
    )
    # the recovered layout must satisfy the join's required
    # DISTRIBUTION: with broadcast off, the self-join's SMJ reads both
    # sides from the bucketed scan with no Exchange. (Ordering is NOT
    # asserted: Spark 4 no longer propagates disk sortBy ordering, so
    # an SMJ keeps its cheap per-bucket Sorts even on a freshly
    # written bucketed+sorted managed table -- verified r10.)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = rec.join(rec.selectExpr("k", "v AS v2"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 0, plan
    spark.sql("DROP TABLE rsb_copy")  # external -- files stay
    assert os.path.isdir(dst)
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_src")


def test_register_surviving_bucketed_missing_returns_none(spark):
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    assert (
        register_surviving_bucketed(spark, "rsb_never_written", "k", 8) is None
    )


def _copy_table_dir(spark, src_table: str, dst_table: str) -> str:
    """Simulate 'files survived, catalog entry died': copy a managed
    table's directory to a name with no catalog entry."""
    import os
    import shutil

    from cell_kn_mvp_etl_results_spark.plans.materialized import _warehouse_dir

    src = _warehouse_dir(spark, src_table).replace("file:", "")
    dst = _warehouse_dir(spark, dst_table).replace("file:", "")
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    shutil.copytree(src, dst)
    return dst


def test_register_surviving_refuses_wrong_bucket_count(spark):
    # VERDICT r10 #3 negative test: a directory WRITTEN with 16 buckets
    # must REFUSE recovery declared as 32 -- re-registering it would
    # plan exchange-free SMJs over wrongly-declared buckets (silent
    # wrong results). Both evidence layers must hold:
    #  * with the _BUCKET_SPEC sidecar (write_bucketed path): spec
    #    mismatch -> None;
    #  * without it (foreign writer): 16-bucket filename ids 0..15 all
    #    pass a max<32 check, so completeness {0..31} is required.
    import shutil

    from cell_kn_mvp_etl_results_spark.operators.scale import (
        BUCKET_SPEC_FILE,
        write_bucketed,
    )
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS rsb_16src")
    for t in ("rsb_16copy", "rsb_16copy_nospec"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.range(5000).selectExpr("id AS k", "id * 3 AS v")
    write_bucketed(df.repartition(16, "k"), "rsb_16src", "k", num_buckets=16)

    dst = _copy_table_dir(spark, "rsb_16src", "rsb_16copy")
    assert register_surviving_bucketed(spark, "rsb_16copy", "k", 32) is None
    assert not spark.catalog.tableExists("rsb_16copy")
    # correct spec still recovers
    rec = register_surviving_bucketed(spark, "rsb_16copy", "k", 16)
    assert rec is not None and rec.count() == 5000
    spark.sql("DROP TABLE rsb_16copy")
    shutil.rmtree(dst)

    dst2 = _copy_table_dir(spark, "rsb_16src", "rsb_16copy_nospec")
    import os

    os.remove(f"{dst2}/{BUCKET_SPEC_FILE}")
    assert (
        register_surviving_bucketed(spark, "rsb_16copy_nospec", "k", 32)
        is None
    )
    shutil.rmtree(dst2)
    spark.sql("DROP TABLE rsb_16src")


def test_register_surviving_refuses_wrong_bucket_col(spark):
    import shutil

    from cell_kn_mvp_etl_results_spark.operators.scale import write_bucketed
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS rsb_colsrc")
    spark.sql("DROP TABLE IF EXISTS rsb_colcopy")
    df = spark.range(1000).selectExpr("id AS k", "id * 7 AS v")
    write_bucketed(df.repartition(8, "k"), "rsb_colsrc", "k", num_buckets=8)
    dst = _copy_table_dir(spark, "rsb_colsrc", "rsb_colcopy")
    # declared bucket column drifted (renamed) -> must refuse
    assert register_surviving_bucketed(spark, "rsb_colcopy", "v", 8) is None
    assert not spark.catalog.tableExists("rsb_colcopy")
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_colsrc")


def test_bucket_spec_sidecar_roundtrip(spark):
    from cell_kn_mvp_etl_results_spark.operators.scale import (
        read_bucket_spec,
        write_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS rsb_specrt")
    df = spark.range(100).selectExpr("id AS k", "id AS v")
    write_bucketed(
        df.repartition(4, "k"), "rsb_specrt", "k", num_buckets=4, sort_col="k"
    )
    spec = read_bucket_spec(spark, "rsb_specrt")
    assert spec == {"bucket_col": "k", "num_buckets": 4, "sort_col": "k"}
    spark.sql("DROP TABLE rsb_specrt")


def test_register_surviving_refuses_corrupt_sidecar(spark):
    # a writer that crashed mid-sidecar leaves a present-but-invalid
    # _BUCKET_SPEC: recovery must REFUSE (rebuild), not trust it or
    # raise out of the query path
    import shutil

    from cell_kn_mvp_etl_results_spark.operators.scale import (
        BUCKET_SPEC_FILE,
        write_bucketed,
    )
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    import os

    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        _warehouse_dir,
    )

    for t in ("rsb_corrsrc", "rsb_corrcopy"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # an orphaned location (e.g. a killed earlier run) blocks
        # saveAsTable even with the catalog entry gone
        loc = _warehouse_dir(spark, t).replace("file:", "")
        if os.path.isdir(loc):
            shutil.rmtree(loc)
    df = spark.range(800).selectExpr("id AS k", "id AS v")
    write_bucketed(df.repartition(8, "k"), "rsb_corrsrc", "k", num_buckets=8)
    dst = _copy_table_dir(spark, "rsb_corrsrc", "rsb_corrcopy")
    with open(f"{dst}/{BUCKET_SPEC_FILE}", "w") as f:
        f.write('{"bucket_col": "k", "num_bu')  # truncated JSON
    assert register_surviving_bucketed(spark, "rsb_corrcopy", "k", 8) is None
    assert not spark.catalog.tableExists("rsb_corrcopy")
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_corrsrc")


def test_read_bucket_spec_retries_transient_fault(spark, monkeypatch):
    # VERDICT r11 #4: a TRANSIENT read fault on the sidecar must not
    # map to "spec unverifiable" (which forces a full layout rebuild
    # at lake scale). One bounded retry: fail-once still reads the
    # spec; fail-always degrades to the refusing empty spec.
    from cell_kn_mvp_etl_results_spark.operators import scale

    spark.sql("DROP TABLE IF EXISTS rsb_flaky")
    df = spark.range(64).selectExpr("id AS k", "id AS v")
    scale.write_bucketed(
        df.repartition(4, "k"), "rsb_flaky", "k", num_buckets=4, sort_col="k"
    )
    real = scale._read_sidecar_text
    calls = {"n": 0}

    def fail_once(spark_, fs, p):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("transient read fault")
        return real(spark_, fs, p)

    monkeypatch.setattr(scale, "_read_sidecar_text", fail_once)
    spec = scale.read_bucket_spec(spark, "rsb_flaky")
    assert spec == {"bucket_col": "k", "num_buckets": 4, "sort_col": "k"}
    assert calls["n"] == 2

    def fail_always(spark_, fs, p):
        raise OSError("persistent read fault")

    monkeypatch.setattr(scale, "_read_sidecar_text", fail_always)
    assert scale.read_bucket_spec(spark, "rsb_flaky") == {}
    spark.sql("DROP TABLE rsb_flaky")


def test_register_surviving_sort_declared_only_when_recorded(spark):
    # ADVICE r11: recovery must declare SORTED BY only when the
    # sidecar recorded a sort at write time -- declaring sort over
    # unsorted buckets lets SMJ elide its Sort (silent wrong joins).
    import shutil

    from cell_kn_mvp_etl_results_spark.operators.scale import write_bucketed
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    def sort_cols_of(table):
        row = (
            spark.sql(f"DESCRIBE EXTENDED {table}")
            .where("col_name = 'Sort Columns'")
            .collect()
        )
        return row[0]["data_type"] if row else ""

    df = spark.range(512).selectExpr("id AS k", "id AS v")
    for t in ("rsb_srt_src", "rsb_srt_copy", "rsb_uns_src", "rsb_uns_copy"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    write_bucketed(
        df.repartition(4, "k"), "rsb_srt_src", "k", num_buckets=4, sort_col="k"
    )
    dst = _copy_table_dir(spark, "rsb_srt_src", "rsb_srt_copy")
    rec = register_surviving_bucketed(spark, "rsb_srt_copy", "k", 4)
    assert rec is not None and "k" in sort_cols_of("rsb_srt_copy")
    spark.sql("DROP TABLE rsb_srt_copy")
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_srt_src")

    # unsorted writer (sort_col=None): recovery must NOT declare sort
    write_bucketed(df.repartition(4, "k"), "rsb_uns_src", "k", num_buckets=4)
    dst = _copy_table_dir(spark, "rsb_uns_src", "rsb_uns_copy")
    rec = register_surviving_bucketed(spark, "rsb_uns_copy", "k", 4)
    assert rec is not None and rec.count() == 512
    assert "k" not in sort_cols_of("rsb_uns_copy")
    spark.sql("DROP TABLE rsb_uns_copy")
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_uns_src")


def test_register_surviving_accepts_partial_buckets_with_sidecar(spark):
    # ADVICE r11: Spark's bucketed writer skips empty buckets, so a
    # sparse table's filename evidence is legitimately partial. With a
    # MATCHING sidecar the spec is already verified -> recover; the
    # completeness rule stays for the no-sidecar path (tested above in
    # test_register_surviving_refuses_wrong_bucket_count).
    import shutil

    from cell_kn_mvp_etl_results_spark.operators.scale import write_bucketed
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    for t in ("rsb_sparse_src", "rsb_sparse_copy"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # 2 distinct keys into 16 buckets -> at most 2 bucket files
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    write_bucketed(
        df.repartition(1), "rsb_sparse_src", "k", num_buckets=16, sort_col="k"
    )
    dst = _copy_table_dir(spark, "rsb_sparse_src", "rsb_sparse_copy")
    rec = register_surviving_bucketed(spark, "rsb_sparse_copy", "k", 16)
    assert rec is not None and rec.count() == 2
    spark.sql("DROP TABLE rsb_sparse_copy")
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_sparse_src")


def test_register_surviving_recovers_reserved_word_sort_col(spark):
    # Review r12: the recovered DDL must backquote bucket/sort columns;
    # a reserved-word column (`order`) written by the DataFrame API
    # would otherwise fail CREATE TABLE at recovery time, turning a
    # recoverable layout into a hard failure.
    import shutil

    from cell_kn_mvp_etl_results_spark.operators.scale import write_bucketed
    from cell_kn_mvp_etl_results_spark.plans.materialized import (
        register_surviving_bucketed,
    )

    for t in ("rsb_resv_src", "rsb_resv_copy"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.range(128).selectExpr("id AS `order`", "id * 2 AS v")
    write_bucketed(
        df.repartition(4, "order"),
        "rsb_resv_src",
        "order",
        num_buckets=4,
        sort_col="order",
    )
    dst = _copy_table_dir(spark, "rsb_resv_src", "rsb_resv_copy")
    rec = register_surviving_bucketed(spark, "rsb_resv_copy", "order", 4)
    assert rec is not None and rec.count() == 128
    spark.sql("DROP TABLE rsb_resv_copy")
    shutil.rmtree(dst)
    spark.sql("DROP TABLE rsb_resv_src")


def test_bucketed_tables_have_one_writer():
    """One lifecycle for on-disk tables: ``write_bucketed`` and
    ``saveAsTable`` are called only by ``operators/scale.py`` (the
    writer itself) and ``plans/materialized.py`` (``ensure_table``)."""
    import pathlib
    import re

    from cell_kn_mvp_etl_results_spark.plans import materialized

    pkg = pathlib.Path(materialized.__file__).resolve().parents[1]
    writers = {
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if re.search(r"\b(write_bucketed|saveAsTable)\(", p.read_text())
    }
    assert writers == {"operators/scale.py", "plans/materialized.py"}
