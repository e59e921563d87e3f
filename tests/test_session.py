"""Session defaults that need no JVM to check."""

from __future__ import annotations

import os

from chroma_rs_spark import session


def _host(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_driver_memory_is_half_the_host_up_to_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 15)
    assert session.driver_memory() == f"{15 * 1024 // 2}m"
    _host(monkeypatch, 64)
    assert session.driver_memory() == "16384m"


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    _host(monkeypatch, 15)
    assert session.driver_memory() == "3g"
