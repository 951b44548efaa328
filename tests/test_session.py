"""Session defaults that depend on the host."""

from __future__ import annotations

import os
import re

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _bytes(size: str) -> int:
    """A JVM memory string ("8035m", "48g") in bytes."""
    m = re.fullmatch(r"(\d+)([kmgt])", size.lower())
    assert m, size
    return int(m.group(1)) * _UNITS[m.group(2)]


def test_driver_heap_fits_the_host(spark):
    """The session's driver heap is no larger than the host's physical
    memory: a bigger heap lets the JVM grow until the OS kills it
    instead of Spark spilling."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _bytes(spark.sparkContext.getConf().get("spark.driver.memory"))
    assert 0 < heap <= phys, (heap, phys)
