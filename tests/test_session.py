"""Session defaults that must hold without starting Spark."""

import os

from flame_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_fits_the_machine():
    # half the physical RAM, rounded down to whole GiB
    assert default_driver_memory(15 * GIB) == "7g"
    assert default_driver_memory(64 * GIB) == "32g"
    # never below 1g, never above the old 48g default
    assert default_driver_memory(GIB) == "1g"
    assert default_driver_memory(512 * GIB) == "48g"
    # the running host's default is at most half its RAM (or the 1g floor)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) * GIB <= max(GIB, phys // 2)
