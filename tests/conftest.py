from __future__ import annotations

import os

import pytest

from image_deduplication_3m_images_spark.session import get_spark


def _test_driver_memory() -> str:
    """Half the host's RAM, at most the session default of 48g.

    Local mode runs every executor thread in the driver JVM, and G1 grows
    its heap toward the cap rather than collect: with the 48g default on a
    small host the suite's JVM outgrows physical memory and is OOM-killed.
    """
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb // 2)}m"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", _test_driver_memory())
    s = get_spark(cores=8, shuffle_partitions=8)
    yield s
    s.stop()
