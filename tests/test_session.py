"""Session defaults that need no JVM."""

from __future__ import annotations

import pytest

from skysafe_datalake_spark import session


def _fake_sysconf(pages: int, page_size: int = 4096):
    values = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page_size}
    return lambda name: values[name]


def test_driver_memory_is_half_of_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib = 2**30 // 4096
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(15 * gib))
    assert session._driver_memory() == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(64 * gib))
    assert session._driver_memory() == "32768m"


def test_driver_memory_floor_and_fallback(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(2**30 // 4096))
    assert session._driver_memory() == "1024m"

    def no_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", no_sysconf)
    assert session._driver_memory() == "4g"


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(64 * 2**30 // 4096))
    assert session._driver_memory() == "3g"


def test_default_driver_memory_fits_this_host():
    import os

    want = session._DEFAULTS["spark.driver.memory"]
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        pytest.skip("driver memory set by the environment")
    phys_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert want.endswith("m") and int(want[:-1]) <= max(1024, phys_mib // 2)
