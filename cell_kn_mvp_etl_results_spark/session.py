"""SparkSession factory.

Local test/bench runs use ``local[N]``; the same configuration keys are
what we would set on a real cluster (AQE, shuffle partitions, Arrow).
Everything here is standard public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Parent directory of this package. Python workers import the package
# by name (mapInPandas / UDF functions pickle as module references), and
# the driver may run from any directory without the package installed.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "cell-kn-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale posture: AQE on (runtime coalescing + skew-join splitting),
    explicit shuffle partitioning, Arrow for any pandas interchange,
    UTC session time so timestamp semantics are deterministic across
    engines and machines. AQE may also change a cached plan's output
    partitioning, so it coalesces shuffles inside persisted frames too.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Off by default in Spark: every cached frame, and every stage
        # reading one, would keep one task per shuffle partition.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark adds this to the Python workers' PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        .config("spark.sql.parquet.filterPushdown", "true")
        # The synthetic events table stores TIMESTAMP(NANOS) parquet,
        # which Spark cannot read natively; read as long and convert in
        # sources.readers (values are micro-precision, so lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep auto-broadcast for true dimension tables but below the
        # point where Spark broadcasts 100k+-row intermediate relations
        # (driver build + GC pressure beat the shuffle it avoids).
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
