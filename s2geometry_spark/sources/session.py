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

# Options of the driver JVM, which in local[N] is the executor too
# (get_spark says why C1 only).
DRIVER_JAVA_OPTIONS = "-Djava.net.preferIPv4Stack=true -XX:TieredStopAtLevel=1"


def half_available_mem(meminfo: str) -> str:
    """Half of ``MemAvailable`` in a ``/proc/meminfo`` text, as a JVM
    size in MB (``"7812m"``)."""
    for line in meminfo.splitlines():
        key, _, rest = line.partition(":")
        if key == "MemAvailable":
            return f"{int(rest.split()[0]) // 2048}m"
    raise ValueError("no MemAvailable line in meminfo")


def _default_driver_mem() -> str:
    with open("/proc/meminfo") as f:
        return half_available_mem(f.read())


def get_spark(
    app_name: str = "s2geometry_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session.  Unset core counts come from ``SPARK_GRAFT_CPUS``,
    else from the cores this process may run on; shuffle partitions
    default to two per core.  The driver heap is ``SPARK_DRIVER_MEM``,
    else half the memory available when the session starts.

    The driver JVM runs ``DRIVER_JAVA_OPTIONS``, so it compiles with C1
    only.  The gain depends on a session doing only seconds of warm work
    per query, in short stages, too little for C2's compile time to pay
    back: with C2, compiling was the largest CPU class of a benchmark
    pass, and C1 cuts a pass's CPU by 18-29%.  A long session of varied
    Spark work pays instead: the 20-minute test suite, one session, runs
    15-19% longer under C1.  A long run of one job, whose work is mostly
    in Python workers, still gained on 4 cores: 100,000- and
    400,000-image ``jobs/image_tiling_job.py`` runs (about 100 and 250 s)
    took 15-21% and 7-22% less CPU.

    The options reach only a JVM this call starts.  Under
    ``spark-submit`` in client mode the driver JVM is already running and
    ignores them (pass ``--driver-java-options`` instead), and executors
    on a cluster keep their own JVM defaults."""
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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    return builder.getOrCreate()
