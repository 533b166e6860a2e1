"""get_spark's fixed driver JVM options, and its default driver heap:
half of MemAvailable, in MB (parsed without starting Spark)."""

import pytest
from pyspark.sql import SparkSession

from s2geometry_spark.sources.session import (
    DRIVER_JAVA_OPTIONS,
    get_spark,
    half_available_mem,
)

MEMINFO = """MemTotal:       16384000 kB
MemFree:         1234567 kB
MemAvailable:   12000000 kB
Buffers:          204800 kB
Cached:          5120000 kB
"""


def test_half_of_mem_available_in_mb():
    # 12,000,000 kB / 2 = 6,000,000 kB = 5859 MB (rounded down)
    assert half_available_mem(MEMINFO) == "5859m"


def test_missing_mem_available_is_an_error():
    with pytest.raises(ValueError):
        half_available_mem("MemTotal:       16384000 kB\n")


def test_get_spark_passes_the_driver_java_options(monkeypatch):
    # stop at the builder, before a JVM starts
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    builder = get_spark(cpus=1)
    assert builder._options["spark.driver.extraJavaOptions"] == DRIVER_JAVA_OPTIONS
    assert "-XX:TieredStopAtLevel=1" in DRIVER_JAVA_OPTIONS.split()


def test_driver_jvm_runs_the_fixed_options(spark):
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(runtime.getInputArguments())
    assert {"-XX:TieredStopAtLevel=1", "-Djava.net.preferIPv4Stack=true"} <= args
