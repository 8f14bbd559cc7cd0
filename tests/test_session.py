"""Session sizing without starting a session: the default heap derived
from physical memory never exceeds it."""

from __future__ import annotations

import pytest

from logcrawler_spark.session import _size_mb, default_driver_mem, mem_total_mb


@pytest.mark.parametrize(
    "total_mb", [512, 4096, 15 * 1024, 16093, 40 * 1024, 256 * 1024]
)
def test_default_heap_never_exceeds_physical_memory(total_mb):
    heap = _size_mb(default_driver_mem(total_mb))
    assert 0 < heap <= total_mb
    assert heap <= 24 * 1024


def test_default_heap_fits_the_running_machine():
    assert 0 < _size_mb(default_driver_mem()) <= mem_total_mb()


def test_jvm_size_strings():
    assert _size_mb("12g") == 12 * 1024
    assert _size_mb("4096m") == 4096
    assert _size_mb("2048K") == 2
    assert _size_mb(str(3 << 20)) == 3
