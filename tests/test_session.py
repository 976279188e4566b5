"""Session defaults derived from the machine (no JVM is started here)."""

import os

from pycuda_raster_spark import session
from pycuda_raster_spark.session import default_driver_memory


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


def test_default_driver_memory_fits_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = _mb(default_driver_memory())
    assert 0 < mb << 20 <= phys
    assert mb <= 64 << 10


def test_default_driver_memory_is_half_capped_at_64g(monkeypatch):
    def host(phys_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return _mb(default_driver_memory())

    assert host(16 << 30) == 8 << 10
    assert host(1 << 40) == 64 << 10
