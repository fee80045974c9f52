"""session.get_spark defaults that do not need a running session."""

from __future__ import annotations

import os

from nornicdb_spark.session import default_cpus, default_driver_memory

GIB = 2**30


def test_default_driver_memory_sizes_from_host():
    # ~40% of RAM: a 15.7 GB host gets 6g, leaving room beside the
    # driver JVM; a 64 GB host hits the 16g cap
    assert default_driver_memory(int(15.7 * GIB)) == "6g"
    assert default_driver_memory(64 * GIB) == "16g"


def test_default_cpus_is_the_process_affinity(monkeypatch):
    # local[N] follows the CPUs the process may run on, not a fixed 32
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.delattr(os, "sched_getaffinity")
    assert default_cpus() == (os.cpu_count() or 1)
