"""Session defaults that depend on the host."""

from __future__ import annotations

from kg.session import _driver_memory_default

GIB = 2**30


def test_driver_memory_default_is_half_of_ram_capped():
    assert _driver_memory_default(15 * GIB + 512 * 2**20) == "7g"
    assert _driver_memory_default(64 * GIB) == "24g"
    assert _driver_memory_default(256 * GIB) == "24g"
    assert _driver_memory_default(1 * GIB) == "1g"
