"""Session defaults that are derived from the machine."""

from __future__ import annotations

import os

from embeddingsearch_spark import session


def _machine(monkeypatch, gib):
    page = 4096
    pages = int(gib * 2**30) // page
    monkeypatch.setattr(
        os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
    )


def test_default_driver_memory_is_half_of_physical_capped(monkeypatch):
    for gib, want in ((16, "8g"), (15.6, "7g"), (128, "32g"), (1, "1g")):
        _machine(monkeypatch, gib)
        assert session.default_driver_memory() == want, gib


def test_default_driver_memory_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", missing)
    assert session.default_driver_memory() == "32g"
