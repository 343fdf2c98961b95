"""Sources (SURVEY.md section 2.1).

The reference reads row-oriented CSVs through pandas
(``LoaderUtilities.py:242-260``) and JSON tuple files through a Java
loader (``ResultsGraphBuilder.java:55-92``). Spark-first, every source is
a ``spark.read`` with an explicit path and (for CSV) schema, so Catalyst
gets column pruning + predicate pushdown into the scan for free.

The driver's synthetic star schema (TESTDATA.md) ships as parquet; the
functions here are thin, typed accessors. At 100 TB these same calls
read a partitioned lake layout -- nothing driver-side changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Parquet schema-inference is a driver-side job (~100 ms each, serialized)
# that re-runs on EVERY spark.read.parquet call. The star-schema files are
# immutable per (path, mtime, size), so the inferred StructType is cached
# process-wide and passed explicitly -- the standard trusted-schema read a
# lake deployment uses (schemas come from the catalog, not file footers).
_SCHEMA_CACHE: dict = {}


def _parquet_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and key in _SCHEMA_CACHE:
        return _SCHEMA_CACHE[key]
    schema = spark.read.parquet(path).schema
    if key is not None:
        _SCHEMA_CACHE[key] = schema
    return schema


def _ltz_schema(schema: T.StructType) -> T.StructType:
    """Canonicalize every TIMESTAMP_NTZ field in a read schema to TIMESTAMP
    (LTZ).

    The lake contract is that stored timestamps are UTC-epoch instants, but
    parquet writers have emitted them three ways over time: TIMESTAMP(NANOS)
    (read as bigint under the legacy conf), TIMESTAMP(MICROS) adjusted to
    UTC (read as LTZ), and TIMESTAMP(MICROS) *not* adjusted to UTC -- which
    PySpark 4.x schema inference surfaces as TIMESTAMP_NTZ, breaking every
    LTZ-only expression downstream (``unix_micros`` etc).

    Rewriting the field type in the *read schema* makes the parquet reader
    interpret the stored int64 micros directly as epoch micros, independent
    of ``spark.sql.session.timeZone``. (A post-hoc cast or ``to_utc_timestamp``
    would instead round-trip through the session zone and shift the instant.)
    """
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampType()
                if isinstance(f.dataType, T.TimestampNTZType)
                else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )


# Steady-state table caching (SPARK_GRAFT_SERVING=tables or plans, see
# serving.py). read_table persists each table's DataFrame once per
# (session, path, file fingerprint); every later read of the same table
# builds an identical logical plan, which Spark's CacheManager
# plan-matches to the in-memory columnar copy -- the warm-scan posture
# of a long-running session serving repeated queries. Tables above
# _CACHE_SPLIT_BYTES are persisted REPARTITIONED to defaultParallelism:
# a sub-128MB single parquet file scans as one partition, so caching it
# as-is would pin every downstream computation over that table to a
# single thread -- the opposite of the multi-executor layout the cache
# is modelling. A regenerated file changes the fingerprint, so the store
# unpersists the stale copy instead of silently serving it.
# OFF at the default level: at lake scale the fact tables do not fit in
# memory and the cache would only add churn (bench.py turns it on; see
# BENCH_NOTES.md for the measurement rationale).
_CACHE_SPLIT_BYTES = 128 * 1024  # below this a single partition is fine


def _fingerprint(path: str) -> tuple:
    """Invalidation token for a parquet table path: (mtime_ns, size)
    for a plain file; for a DIRECTORY-backed table the sorted
    (name, mtime_ns, size) listing of its entries, because an in-place
    rewrite of a contained part file does not touch the directory's own
    mtime (ADVICE r9) -- the listing is the invalidation unit. One
    level deep: Spark writes create/replace files, which always changes
    the immediate listing (new part names or new mtimes)."""
    try:
        st = os.stat(path)
    except OSError:
        return (0, 0)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    try:
        for name in sorted(os.listdir(path)):
            try:
                est = os.stat(os.path.join(path, name))
            except OSError:
                continue
            entries.append((name, est.st_mtime_ns, est.st_size))
    except OSError:
        pass
    return tuple(entries) if entries else (st.st_mtime_ns, st.st_size)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from ``{sf_dir}/{name}.parquet``."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events has stored TIMESTAMP(NANOS) in some generations of the
        # lake, unreadable without this legacy conf. Set at runtime so the
        # queries work under ANY caller's SparkSession (e.g. the driver
        # harness), not just session.get_spark.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_ltz_schema(_parquet_schema(spark, path))).parquet(path)
    # events.ts as TIMESTAMP(NANOS) parquet surfaces as long nanos via
    # spark.sql.legacy.parquet.nanosAsLong (session.py). The generator
    # emits micro-precision values, so the div-1000 conversion is exact.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    from ..serving import at_least, serve

    if at_least("tables"):
        # Big tables cache in a parallel layout (see the note above).
        # The repartition is part of the RETURNED plan every call, so
        # the CacheManager's canonical-plan match replaces it with the
        # InMemoryRelation on warm reads -- the shuffle runs once.
        try:
            big = os.stat(path).st_size > _CACHE_SPLIT_BYTES
        except OSError:
            big = False
        if big:
            df = df.repartition(spark.sparkContext.defaultParallelism)
        serve(
            spark, sf_dir, f"table.{name}", (name,), df.persist, DataFrame.unpersist
        )
    return df


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables at once; defaults to all of them."""
    use = names or TABLES
    return {n: read_table(spark, sf_dir, n) for n in use}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming source over the events table (file source,
    micro-batch). Applies the same nanos->timestamp conversion as the
    batch reader so streaming and batch plans share semantics."""
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = _ltz_schema(spark.read.parquet(path).schema)
    # The streaming file source requires a *directory*; stage a symlink
    # dir when pointed at a single parquet file (test data layout).
    if os.path.isfile(path):
        import tempfile

        stage = tempfile.mkdtemp(prefix="events-stream-")
        os.symlink(path, os.path.join(stage, "part-0.parquet"))
        path = stage
    df = spark.readStream.schema(raw_schema).parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_results_csv(
    spark: SparkSession, path: str, schema=None, uuid_cols: tuple[str, ...] = ()
) -> DataFrame:
    """CSV results scan + deterministic surrogate id (S1, S2).

    Mirrors ``load_results`` (reference ``LoaderUtilities.py:242-260``)
    which appends a *random* 12-char ``uuid`` column and writes it back
    into the input file. We never mutate inputs; instead the surrogate is
    a deterministic hash of the identifying columns (SURVEY.md section 7
    reproducibility note). ``F.input_file_name()`` preserves the
    file-identity channel the reference gets from glob discovery
    (``LoaderUtilities.py:65-225``).
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path).withColumn("_source_file", F.input_file_name())
    if uuid_cols and "uuid" not in df.columns:
        basis = F.concat_ws("|", F.col("_source_file"), *[F.col(c) for c in uuid_cols])
        df = df.withColumn("uuid", F.substring(F.sha2(basis, 256), 1, 12))
    return df


def read_tuples_json(spark: SparkSession, path: str) -> DataFrame:
    """Tuples-IR JSON scan + shape validation (S6).

    The reference stores ``{"tuples": [[s,p,o], ..., [s,o,p,lit]]}`` and
    validates arity + URI-ness in Java (``ResultsGraphBuilder.java:55-92``,
    URI test = contains "http" at ``:67``). Here: read, explode, classify
    into the canonical ``tuples(s, p, o, lit)`` relation where ``lit`` is
    NULL for triples. Invalid shapes are dropped (reference throws; we
    filter -- the count of dropped rows is observable via a metric query).
    """
    # Two framings are accepted: this engine's line-delimited rows
    # ({"tuple": [...]} per line) and the reference's single pretty-
    # printed document ({"tuples": [[...], ...]}, which needs multiLine
    # -- but multiLine collapses line-delimited files to one row per
    # file, so it is only used when the line read doesn't parse).
    raw = spark.read.json(path)
    if "tuple" in raw.columns:
        t = raw.select(F.col("tuple").alias("tup"))
    elif "tuples" in raw.columns:
        t = raw.select(F.explode("tuples").alias("tup"))
    else:
        raw = spark.read.option("multiLine", True).json(path)
        t = raw.select(F.explode("tuples").alias("tup"))
    n = F.size("tup")
    # Term test: the reference checks contains("http") because its terms
    # are full PURLs; this engine's writers emit CURIE-style terms
    # (CS_x, CL_0000235), accepted by the same pattern the graph
    # assembler uses. Predicates are relation labels (subClassOf,
    # PART_OF, ...) -- validated only as non-empty single tokens.
    is_uri = lambda c: c.contains("http") | c.rlike(r"^[A-Za-z]+[_:]")  # noqa: E731
    return (
        t.filter((n == 3) | (n == 4))
        .select(
            F.element_at("tup", 1).alias("e1"),
            F.element_at("tup", 2).alias("e2"),
            F.element_at("tup", 3).alias("e3"),
            F.when(n == 4, F.element_at("tup", 4)).alias("e4"),
        )
        # triple: (s, p, o[,lit=None]); quad: (s, o, p, lit) -> edge anno
        .select(
            F.col("e1").alias("s"),
            F.when(F.col("e4").isNull(), F.col("e2")).otherwise(F.col("e3")).alias("p"),
            F.when(F.col("e4").isNull(), F.col("e3")).otherwise(F.col("e2")).alias("o"),
            F.col("e4").alias("lit"),
        )
        .filter(is_uri(F.col("s")) & F.col("p").rlike(r"^\S+$"))
    )
