"""Session sizing: the driver heap follows the host's memory."""

from __future__ import annotations

from fluxdb_spark import session


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session._driver_memory() == "3g"


def test_driver_memory_is_three_quarters_of_host_capped(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session._driver_memory() == "12288m"
    conf["SC_PHYS_PAGES"] = (256 << 30) // 4096
    assert session._driver_memory() == "49152m"  # the old 48g ceiling
