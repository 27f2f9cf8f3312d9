"""SparkSession factory and runtime-config normalization.

The reference client read endpoint/token config from ``config/*.yml``
(reference ``.gitignore:21-22``); our analog is a session factory with the
engine's canonical configs. Because the harness may hand us an
already-constructed session, every config we *require* for correctness
(UTC timezone, Arrow) is also applied at runtime via ``prepare_session``,
which only touches runtime-settable confs.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Confs that are safe to set on a live session (runtime-settable).
_RUNTIME_CONFS = {
    # Deterministic timestamp semantics vs the DuckDB oracle (SURVEY.md §7 risk 2).
    "spark.sql.session.timeZone": "UTC",
    # Arrow-vectorized pandas interchange for all Python UDF paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Adaptive execution: runtime partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # ANSI off: tolerate malformed casts as NULL (SODA-style dynamic data).
    "spark.sql.ansi.enabled": "false",
    # zstd for all parquet sinks: ~30% smaller than snappy at comparable
    # decode speed — at 100 TB the storage/IO saving dominates the cpu cost.
    "spark.sql.parquet.compression.codec": "zstd",
    # events.parquet carries TIMESTAMP(NANOS) which the Parquet reader rejects;
    # read as long nanos, converted to µs timestamps in registry.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Error conditions Spark raises for a conf that cannot change on a live
# session; any other failure (a rejected value, a dead session) is a fault.
_UNSETTABLE = {"CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Normalize a (possibly externally-created) session's runtime confs.
    A conf this build will not change at runtime is skipped; every other
    error propagates."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if e.getCondition() not in _UNSETTABLE:
                raise
    return spark


def get_spark(
    app_name: str = "hawaiidatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's canonical session.

    Local default mirrors the harness: ``local[$SPARK_GRAFT_CPUS]`` with
    shuffle partitions sized to the core count — at cluster scale these are
    overridden by spark-submit confs, and AQE coalesces down from a larger
    initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Split size governs scan parallelism. Local default 8 MiB so the
        # single-file fixtures still fan out across cores; real clusters set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=134217728 (128 MiB) — at 100 TB the
        # concern flips from "enough tasks" to "not too many".
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())
