import os

import pytest

from hypertrace_ingester_spark.session import get_spark


def _host_heap_mb() -> int:
    """Driver heap sized to this host: 40% of available memory, between
    1 GB and the 16 GB session default. ``session.py`` pins -Xms to -Xmx,
    so a heap larger than the host gets the JVM killed by the kernel
    mid-suite, and every later Spark test then fails to connect."""
    with open("/proc/meminfo") as fh:
        avail_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
    return int(min(16384, max(1024, avail_kb / 1024 * 0.4)))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{_host_heap_mb()}m")
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sequences(spark):
    from hypertrace_ingester_spark import datagen

    return datagen.generate_sequences(spark, 2000, partitions=8).cache()
