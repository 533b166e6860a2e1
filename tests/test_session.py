"""get_spark's default driver heap: half of MemAvailable, in MB (parsed
without starting Spark)."""

import pytest

from s2geometry_spark.sources.session import half_available_mem

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
