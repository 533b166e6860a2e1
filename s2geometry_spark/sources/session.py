"""SparkSession factory tuned for the engine.

Iceberg note: the design-scale storage layer is an Iceberg table
(partitioned by cell_l{k} prefix); the Iceberg runtime jar is not available
in this sandbox, so we fall back to plain parquet with an identical schema
and the same cell-prefix partition column — every operator is agnostic to
the catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "s2geometry_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session.  Unset core counts come from ``SPARK_GRAFT_CPUS``,
    else from the cores this process may run on; shuffle partitions
    default to two per core."""
    cpus = cpus or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or 2 * cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # big Arrow batches amortize the Python/JVM boundary for the
        # vectorized kernels (encode is ~100ns/row inside NumPy)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # TIMESTAMP_NTZ -> TIMESTAMP casts interpret the naive value in
        # the session timezone; pin it so epoch arithmetic (event-time windows)
        # is deterministic and matches DuckDB's naive epoch_us()
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    return builder.getOrCreate()
