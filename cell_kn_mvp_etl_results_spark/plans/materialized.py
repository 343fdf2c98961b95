"""Auto-build-or-reuse MATERIALIZED intermediates (VERDICT r7 #3/#4).

The expensive shared intermediates of the dedup layer -- the SimHash
radius-1 near-dup PAIR GRAPH (at the 30x corpus: 89.6M pairs, ~114 s to
generate) and the exact near-dup CONNECTED COMPONENTS (a ~63M-edge CC
fixpoint, ~176 s) -- are consumed by many queries (degree histogram,
triangles, clustering coefficient, k-core, PageRank, LPA communities,
modularity, leakage-safe splitting, exemplar serving).  Recomputing
them per call is the per-call scale hazard the r7 verdict flags: in
production they are computed ONCE at dedup/compaction time and every
consumer reads the persisted result.

This module is that posture, applied by DEFAULT through one
build/reuse/recover lifecycle, ``ensure_table`` -- the only writer of
bucketed tables in the package (the khop hop tables and the supplier
twin's tables go through it too):

  * the table name carries an md5 of (sf_dir, input file fingerprints,
    builder parameters) (``serving._auto_name``), so a regenerated
    corpus or changed parameters can never serve stale rows -- the same
    invalidation contract as the registry's prepared-plan cache;
  * first use per fingerprint builds the bucketed table (paid once per
    warehouse, amortized across every consumer AND every process:
    a surviving on-disk table from a previous session is re-read, not
    rebuilt);
  * ``SPARK_GRAFT_SERVING=off`` forces the original in-query
    computation (``ensure_table`` calls the builder directly) -- the
    explicit fallback for one-shot runs, and what the row-identity
    tests pin the materialized path against. Only the always-
    materialized forms ignore it: the khop and supplier tables call
    ``ensure_table(force=True)``, and q_split_leakage_bucketed calls
    ``dedup_components_frame(force=True)``, the one builder that keeps
    a ``force`` parameter.

Correctness is unaffected by construction: the builders are
deterministic pure functions of the source tables, so reading the
persisted result back is row-identical to computing it inline
(test-pinned in tests/test_materialized.py and test_featureprep.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..serving import _auto_name, at_least
from ..sources.readers import read_table


def _warehouse_dir(spark: SparkSession, table: str) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return f"{wh}/{table}"


def physical_table_name(table: str, bucket_col: str, num_buckets: int) -> str:
    """The on-disk/catalog name ``ensure_table`` uses: the logical
    fingerprint name with the bucket spec folded in (ADVICE r10), so a
    changed spec can never be recovered against an old layout."""
    return f"{table}_{bucket_col}{num_buckets}"


def _surviving_bucket_ids(fs, jvm, path: str, num_buckets: int) -> "set | None":
    """Bucket ids recovered from Spark's own bucket-file naming
    (``part-*-<uuid>_NNNNN.c000...``). None when ANY data file lacks
    the ``_NNNNN`` suffix or carries an id >= ``num_buckets`` -- i.e.
    the directory is provably NOT a bucketed layout matching the
    declared spec."""
    import re

    ids: set = set()
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path)):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        m = re.search(r"_(\d{5})\.", name)
        if m is None:
            return None
        bid = int(m.group(1))
        if bid >= num_buckets:
            return None
        ids.add(bid)
    return ids


def register_surviving_bucketed(
    spark: SparkSession,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
) -> "DataFrame | None":
    """Tier-2 recovery for a bucketed table whose catalog entry died
    with a previous session (r10): RE-REGISTER the surviving warehouse
    directory as an EXTERNAL table with the matching CLUSTERED/SORTED
    spec, restoring the exchange-free co-located scan the build paid
    for. Read as plain parquet instead, the table would be re-shuffled
    by every consumer, per query, after each restart.

    The declared spec is VERIFIED against the on-disk evidence before
    registering (VERDICT r10 #3: a drifted caller -- changed default,
    renamed column -- must never plan exchange-free SMJs over
    wrongly-declared buckets, a silent wrong-results class):

    1. the ``_BUCKET_SPEC`` sidecar ``write_bucketed`` records must,
       when present, match (bucket_col, num_buckets) exactly;
    2. every data file must carry Spark's ``_NNNNN`` bucket-id suffix
       with id < num_buckets;
    3. without a sidecar (a directory not written by this package's
       writers), the filename evidence must be COMPLETE -- ids exactly
       {0..num_buckets-1} -- because a 16-bucket layout's ids all pass
       a declared-32 max check; an incomplete set refuses recovery.
       WITH a matching sidecar, an empty or partial id set is accepted
       (ADVICE r11): Spark's bucketed writer legitimately skips empty
       buckets and zero-row tables, and the spec is already verified
       by stronger evidence than the filenames.
    4. ``SORTED BY`` is declared only when the sidecar's recorded
       ``sort_col`` confirms the buckets were written sorted (ADVICE
       r11): declaring sort over unsorted buckets lets SMJ elide its
       Sort and silently merge mis-ordered runs. Legacy sidecars
       without the field, and the no-sidecar path, recover CLUSTERED
       only -- correct, at the cost of a cheap per-bucket Sort under
       SMJ until the next rebuild re-records the spec.

    Returns None when no complete (_SUCCESS) directory survives or the
    evidence mismatches (the caller rebuilds / reads plain parquet --
    rows stay correct, only the layout claim is dropped). Genuine
    defects past validation (unreadable schema, CREATE TABLE failure)
    RAISE instead of being swallowed."""
    from ..operators.scale import read_bucket_spec

    path = _warehouse_dir(spark, table)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")):
        return None
    spec = read_bucket_spec(spark, table)
    if spec is not None and (
        spec.get("bucket_col") != bucket_col
        or spec.get("num_buckets") != num_buckets
    ):
        return None
    ids = _surviving_bucket_ids(fs, jvm, path, num_buckets)
    if ids is None:  # a data file contradicts the layout: always refuse
        return None
    if spec is None and ids != set(range(num_buckets)):
        return None  # filename evidence alone must be complete
    sort_col = spec.get("sort_col") if spec else None
    sorted_by = f"SORTED BY (`{sort_col}`) " if sort_col else ""
    if not ids:
        # Sidecar-verified but ZERO data files (a zero-row bucketed
        # write): there is no parquet footer to recover a schema from,
        # so there is nothing registrable -- fall back to the caller's
        # rebuild, which rewrites the same empty table cheaply.
        try:
            sch = spark.read.parquet(path).schema
        except Exception:
            return None
    else:
        sch = spark.read.parquet(path).schema
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sch.fields
    )
    spark.sql(
        f"CREATE TABLE {table} ({ddl}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`) {sorted_by}"
        f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
    )
    return spark.table(table)


def ensure_table(
    spark: SparkSession,
    table: str,
    build: "callable",
    bucket_col: str,
    num_buckets: int = 32,
    force: bool = False,
) -> DataFrame:
    """Return ``table``'s rows, building it if this warehouse has never
    materialized it. Under ``SPARK_GRAFT_SERVING=off`` (unless
    ``force``) nothing is read or written: ``build()`` runs inline.
    Otherwise three tiers:

    1. catalog hit -> ``spark.table`` (bucketed scan, no Exchange on
       the bucket key);
    2. on-disk hit from a PREVIOUS session (in-memory catalog died with
       it) -> re-register the surviving directory with its verified
       bucket spec (``register_surviving_bucketed``); a complete
       directory whose layout cannot be verified is read as plain
       parquet -- rows identical, only the bucketing is lost;
    3. miss -> build bucketed+sorted via ``write_bucketed``. Each table
       is checked on its own, so a caller holding several tables
       rebuilds only the missing one.

    Concurrency contract (ADVICE r8): the warehouse assumes a SINGLE
    WRITER per table name -- the standard posture for a local
    warehouse dir, and at lake scale the build belongs to the ingest/
    compaction job, not ad-hoc sessions. The name is
    fingerprint-derived, so concurrent processes over the same corpus
    race on the SAME table; tier 3 therefore tolerates losing that
    race: if the write fails because the other writer created the
    table/directory first, the winner's (deterministically identical)
    rows are re-read instead of raising. What is NOT defended: a
    second process deleting the first's still-_SUCCESS-less in-flight
    directory as orphaned -- distinguishing a crash from an in-flight
    writer needs a lock service the engine does not assume.

    The PHYSICAL name folds in the bucket spec (``{table}_{col}{n}``,
    ADVICE r10): a caller that changes ``bucket_col``/``num_buckets``
    between versions lands on a DIFFERENT directory and rebuilds,
    instead of recovering an old layout under a wrong declared spec.
    """
    from ..operators.scale import write_bucketed
    if not force and not at_least("derived"):
        return build()
    table = physical_table_name(table, bucket_col, num_buckets)

    if spark.catalog.tableExists(table):
        return spark.table(table)
    recovered = register_surviving_bucketed(spark, table, bucket_col, num_buckets)
    if recovered is not None:
        return recovered
    path = _warehouse_dir(spark, table)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    success = jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
    if fs.exists(success):
        return spark.read.parquet(path)
    if fs.exists(jpath):  # partial/orphaned write: rebuild from scratch
        fs.delete(jpath, True)
    try:
        write_bucketed(
            build().repartition(num_buckets, bucket_col),
            table,
            bucket_col,
            num_buckets=num_buckets,
            sort_col=bucket_col,
        )
    except Exception:
        # Lost a concurrent-creation race: serve the winner's table
        # (same fingerprint -> deterministically identical rows).
        # Anything else genuinely failed -- re-raise.
        if spark.catalog.tableExists(table):
            return spark.table(table)
        if fs.exists(success):
            return spark.read.parquet(path)
        raise
    return spark.table(table)


def simhash_pairs_frame(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 32,
    max_hamming: int = 1,
) -> DataFrame:
    """The SimHash radius-``max_hamming`` near-dup pair graph
    (id_a, id_b, hamming), id_a < id_b -- served from the materialized
    bucketed table by default, generated inline under
    ``SPARK_GRAFT_SERVING=off``.

    Scale: the banded pair generation is the dominant cost of EVERY
    graph-over-near-dups query (degree hist 57 s of which ~55 s is
    pair generation at 30x); one build serves them all, and serves
    repeated calls across sessions from disk.
    """

    def build() -> DataFrame:
        d = read_table(spark, sf_dir, "documents")
        hashes = dd.simhash(d, "doc_id", "text", bits=bits)
        return dd.simhash_pairs(hashes, max_hamming=max_hamming, bits=bits)

    table = _auto_name("simhash_pairs_auto", sf_dir, bits, max_hamming)
    return ensure_table(spark, table, build, "id_a")


def build_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inline (doc_id, component) computation: 3-gram Jaccard >=
    0.05 pairs -> iterative min-label CC -- the q_dedup_clusters
    machinery, shared by the inline path and the auto-materializer so
    the two can never drift."""
    d = read_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.05)
    return dd.connected_components(
        d.select(F.col("doc_id").alias("id")),
        pairs.select("id_a", "id_b"),
    ).select(F.col("id").alias("doc_id"), "component")


def dedup_components_frame(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> DataFrame:
    """Exact near-dup connected components (doc_id, component) over the
    3-gram Jaccard >= 0.05 pair graph -- the q_dedup_clusters machinery,
    served from the materialized bucketed table by default (the CC
    fixpoint is paid once at dedup time, VERDICT r7 #3), generated
    inline under ``SPARK_GRAFT_SERVING=off``.
    """
    table = _auto_name("dedup_comp_auto", sf_dir)
    return ensure_table(
        spark,
        table,
        lambda: build_components(spark, sf_dir),
        "doc_id",
        force=force,
    )


def minhash_index_frame(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 10,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The persisted LSH index (id, band, bucket, sig) of the BASE
    corpus slice (doc_id % base_mod != 0) -- what incremental dedup
    probes instead of re-pairing the lake (operators/dedup.
    minhash_bucket_index). Bucketed on the probe join's bucket key so
    delta probes co-locate. Auto-build-or-reuse per corpus fingerprint;
    ``SPARK_GRAFT_SERVING=off`` computes it inline."""

    def build() -> DataFrame:
        d = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % base_mod != 0
        )
        return dd.minhash_bucket_index(
            d, "doc_id", "text", num_perm=num_perm, bands=bands
        )

    table = _auto_name("minhash_index_auto", sf_dir, base_mod, num_perm, bands)
    return ensure_table(spark, table, build, "bucket")


def simhash_band_index_frame(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 10,
    bits: int = 32,
    max_hamming: int = 1,
) -> DataFrame:
    """The persisted SimHash BAND index (id, simhash, band, val) of the
    BASE corpus slice (doc_id % base_mod != 0) -- what incremental pair
    maintenance probes: a landing delta joins its own bands against
    this instead of re-banding the lake (q_pair_index_upsert).
    Bucketed on val, the probe join's highest-cardinality key."""

    def build() -> DataFrame:
        d = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % base_mod != 0
        )
        hashes = dd.simhash(d, "doc_id", "text", bits=bits)
        return dd.simhash_bands(hashes, bands=max_hamming + 1, bits=bits)

    table = _auto_name(
        "simhash_band_index_auto", sf_dir, base_mod, bits, max_hamming
    )
    return ensure_table(spark, table, build, "val")


def community_labels_frame(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 2,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic-LPA community labels (id, label) over the SimHash
    radius-1 near-dup pair graph -- the q_communities machinery, served
    from a materialized bucketed table by default (VERDICT r8 #3: the
    2 synchronous LPA rounds were the last per-call recompute hazard,
    30.9 s steady at 30x). Community assignment, like components and
    entity resolution, is computed once per corpus snapshot in
    production; every consumer (q_communities, q_modularity's label
    side, exemplar serving) reads the persisted assignment. Fingerprint
    covers documents.parquet + iters, so a regenerated corpus or a
    different round count can never serve stale labels.

    ``pairs`` lets an inline-mode caller that already holds (and
    persisted) the radius-1 pair frame share it with the LPA build
    instead of regenerating it; it MUST be row-identical to
    ``simhash_pairs_frame``'s output (q_modularity passes exactly
    that), so the fingerprinted name stays truthful.
    """

    def build() -> DataFrame:
        from ..operators import graph as gr

        p = pairs if pairs is not None else simhash_pairs_frame(spark, sf_dir)
        return gr.label_propagation(p, "id_a", "id_b", iters=iters)

    table = _auto_name("lpa_labels_auto", sf_dir, iters)
    return ensure_table(spark, table, build, "id")


def hll_registers_frame(
    spark: SparkSession,
    sf_dir: str,
    base_mod: "int | None" = 10,
) -> DataFrame:
    """The persisted HLL register table (source, bucket, r) of the BASE
    corpus slice (doc_id % base_mod != 0) -- the cardinality profile's
    incremental posture (q_hll_incremental): a landing delta computes
    its own registers map-side and MERGES by per-bucket max instead of
    re-hashing the lake; the merged table equals the full-corpus
    registers exactly (sketch property, unit-pinned), so the estimate
    is identical to from-scratch. |sources| x 512 rows regardless of
    corpus size; bucketed on the merge join's bucket key.

    ``base_mod=None`` materializes the FULL-corpus registers -- the
    serving posture of the card family (q_token_stats_hll, VERDICT r10
    #7): at 100 TB the card's distinct column IS the sketch, read from
    this table, with the exact count kept as a gate-scale audit."""

    def build() -> DataFrame:
        from ..operators import sketches as sk

        d = read_table(spark, sf_dir, "documents")
        if base_mod is not None:
            d = d.filter(F.col("doc_id") % base_mod != 0)
        toks = d.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok"),
        ).filter(F.col("tok") != "")
        return sk.hll_registers(toks, "tok", "source")

    table = _auto_name("hll_registers_auto", sf_dir, base_mod)
    return ensure_table(spark, table, build, "bucket")


def kmv_sketch_frame(
    spark: SparkSession,
    sf_dir: str,
    base_mod: "int | None" = 10,
) -> DataFrame:
    """The persisted bottom-k (KMV) sketch table (source, rn, h, key)
    of the BASE corpus slice (doc_id % base_mod != 0) -- the
    order-statistics sibling of ``hll_registers_frame`` with the same
    incremental posture (q_kmv_incremental): a landing delta hashes its
    own DISTINCT keys map-side and merges by union + re-bottom-k
    instead of re-hashing the lake; the merged sketch equals the
    full-corpus sketch exactly (the k smallest of a union are among
    the k smallest of each side), so the estimate AND the sampled key
    set are identical to from-scratch. |sources| x k rows regardless
    of corpus size."""

    def build() -> DataFrame:
        from ..operators import dedup as dd
        from ..operators import sketches as sk

        d = read_table(spark, sf_dir, "documents")
        if base_mod is not None:
            d = d.filter(F.col("doc_id") % base_mod != 0)
        # SHINGLE keys, matching the KMV gates (plans/llmdata): the
        # synthetic token vocabulary sits below k, where the sketch
        # degenerates to its exact branch.
        sh = dd.shingle_set(d, "source", "text").select(
            F.col("id").alias("source"), F.col("shingle").alias("key")
        )
        return sk.kmv_sketch(sh, "key", "source")

    table = _auto_name("kmv_sketch_auto", sf_dir, base_mod, "shingle")
    return ensure_table(spark, table, build, "source")


def community_stats_frame(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 2,
    pairs: DataFrame | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Intra-community edge counts (label, e_in) of the LPA partition
    over the radius-1 pair graph -- the LAST per-edge pass q_modularity
    paid per cold call (r10 profile at 30x: the two-broadcast-join scan
    of the 89.6M-row pair table was 13 s of the 20 s cold; everything
    else is |labels|-sized). Like the labels and degrees it joins,
    e_in is a once-per-snapshot product: the same ingest job that
    assigns communities emits their edge rollup. With labels, degrees,
    and stats materialized, the modularity METRIC is pure
    |communities|-row arithmetic -- the shape it would have at 100 TB,
    where nobody re-walks the edge set to re-score a fixed partition.
    ``pairs``/``labels`` let inline-mode callers share their persisted
    frames; they MUST be row-identical to the sibling frames' output."""

    def build() -> DataFrame:
        p = pairs if pairs is not None else simhash_pairs_frame(spark, sf_dir)
        lab = (
            labels
            if labels is not None
            else community_labels_frame(spark, sf_dir, iters=iters)
        )
        return (
            p.join(
                lab.select(F.col("id").alias("id_a"), F.col("label").alias("la")),
                "id_a",
            )
            .join(
                lab.select(F.col("id").alias("id_b"), F.col("label").alias("lb")),
                "id_b",
            )
            .filter(F.col("la") == F.col("lb"))
            .groupBy(F.col("la").alias("label"))
            .agg(F.count(F.lit(1)).alias("e_in"))
        )

    table = _auto_name("community_stats_auto", sf_dir, iters)
    return ensure_table(spark, table, build, "label")


def pair_degrees_frame(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Vertex degrees (id, d) of the SimHash radius-1 near-dup pair
    graph -- the |V|-sized frame q_modularity's metric needs beside the
    LPA labels, served from a materialized bucketed table by default
    (VERDICT r9 #6: the cold path re-derived degrees from the 89.6M-edge
    list per call even though community_labels_frame already walks the
    same edges). Like the labels, degrees are a once-per-snapshot
    product in production. ``pairs`` lets an inline-mode caller share
    its persisted pair frame; it MUST be row-identical to
    ``simhash_pairs_frame``'s output."""

    def build() -> DataFrame:
        p = pairs if pairs is not None else simhash_pairs_frame(spark, sf_dir)
        return (
            p.select(F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    table = _auto_name("pair_degrees_auto", sf_dir)
    return ensure_table(spark, table, build, "id")


def entity_components_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved supplier entities (id, component) over the FastSS
    deletion-neighborhood pair graph (edit distance <= 1) -- the
    q_entity_resolution machinery. Entity resolution is run once per
    dimension snapshot in production (16.1 s of every call at 30x was
    this blocking + CC rebuild, VERDICT r7 #4); consumers read the
    persisted assignment.  Fingerprint covers supplier.parquet.
    """

    def build() -> DataFrame:
        from ..operators.dedup import connected_components
        from ..operators.lookup import fuzzy_key_pairs

        s = read_table(spark, sf_dir, "supplier")
        pairs = fuzzy_key_pairs(s, "s_suppkey", "s_name")
        nodes = s.select(F.col("s_suppkey").alias("id"))
        return connected_components(nodes, pairs.select("id_a", "id_b"))

    table = _auto_name("entity_comp_auto", sf_dir, files=("supplier",))
    return ensure_table(spark, table, build, "id")
