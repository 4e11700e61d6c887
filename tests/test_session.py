"""Session defaults that must fit the host they run on."""

from __future__ import annotations

import os

from micro_lab_ocr_spark.session import default_driver_memory


def test_default_driver_memory_fits_host():
    """The driver heap default stays at or below both 32g and the host's
    physical memory (a local driver JVM above MemTotal is OOM-killed)."""
    mem = default_driver_memory()
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert 0 < mb <= 32 * 1024
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        assert mb * 1024 <= total_kb
