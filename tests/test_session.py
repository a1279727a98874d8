"""Session defaults that must hold on any host."""

import os

from ferc_xbrl_extractor_spark import session


def _mib(mem: str) -> int:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(int(mem[:-1]) * units[mem[-1].lower()])


def test_default_driver_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_XMS", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    heap = _mib(session._driver_mem())
    assert 1 <= heap <= min(24 * 1024, phys_mb)
    assert _mib(session._driver_xms()) == heap * 2 // 3


def test_driver_heap_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_XMS", raising=False)
    assert session._driver_mem() == "3g"
    assert session._driver_xms() == "2g"
