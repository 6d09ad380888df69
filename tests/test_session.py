"""The session factory's defaults fit the host it runs on."""

from __future__ import annotations

from pathlib import Path

import pytest


def test_driver_heap_fits_host_memory(spark):
    """Local mode runs every task inside the driver JVM: a max heap above
    the host's RAM lets a heavy test grow the JVM until the kernel
    OOM-kills the whole run instead of failing one test."""
    meminfo = Path("/proc/meminfo")
    if not meminfo.exists():
        pytest.skip("no /proc/meminfo on this platform")
    total_kib = next(int(ln.split()[1]) for ln in meminfo.read_text().splitlines()
                     if ln.startswith("MemTotal:"))
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert heap <= total_kib * 1024, (heap, total_kib)
