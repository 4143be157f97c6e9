"""Session defaults are sized from the host, not fixed."""

import os

from gpml2pvjson_js_spark import session


def _host_ram(monkeypatch, gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_driver_memory_is_half_the_host_ram(monkeypatch):
    _host_ram(monkeypatch, 16)
    assert session.default_driver_memory() == "8192m"


def test_driver_memory_is_capped_at_24g(monkeypatch):
    _host_ram(monkeypatch, 256)
    assert session.default_driver_memory() == "24576m"

