"""Session configuration: the local-mode driver heap must fit the machine."""

from __future__ import annotations

import os
import types

from crawler_spark import session

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _size_bytes(size: str) -> int:
    """Spark JVM memory string -> bytes (a bare number means MiB)."""
    s = size.strip().lower().removesuffix("b")
    if s[-1] in _UNITS:
        return int(s[:-1]) * _UNITS[s[-1]]
    return int(s) << 20


class _Builder:
    """Records the confs get_spark sets instead of launching a JVM."""

    def __init__(self):
        self.confs: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return self.confs


def test_driver_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_Builder()))
    confs = session.get_spark("heap-check", "local[1]")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _size_bytes(confs["spark.driver.memory"])
    assert 0 < heap <= ram, (confs["spark.driver.memory"], ram)
    assert heap <= 48 << 30
