"""session.get_spark defaults that do not need a running session."""

from __future__ import annotations

from nornicdb_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_sizes_from_host():
    # ~40% of RAM: a 15.7 GB host gets 6g, leaving room beside the
    # driver JVM; a 64 GB host hits the 16g cap
    assert default_driver_memory(int(15.7 * GIB)) == "6g"
    assert default_driver_memory(64 * GIB) == "16g"
