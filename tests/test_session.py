"""Spark-free checks of the session factory's defaults."""

from __future__ import annotations

import os

from optiprism_spark import session


def _host(monkeypatch, gib: int) -> None:
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (gib << 30) // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_default_driver_memory_is_half_the_host_capped_at_48g(monkeypatch):
    _host(monkeypatch, 15)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"
    _host(monkeypatch, 96)
    assert session.default_driver_memory() == f"{48 * 1024}m"
    _host(monkeypatch, 512)
    assert session.default_driver_memory() == f"{48 * 1024}m"
