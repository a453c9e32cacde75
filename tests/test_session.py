"""Session-factory settings that need no running Spark."""

from __future__ import annotations

import pytest

from wikidatabots_spark.session import _default_driver_mem

_MEMINFO = """MemTotal:       {kib} kB
MemFree:         1024000 kB
MemAvailable:    2048000 kB
"""


@pytest.mark.parametrize(
    "kib, expected",
    [
        (16456384, "8035m"),  # 15.7 GiB host: half its RAM
        (4 * 1024 * 1024, "2048m"),
        (64 * 1024 * 1024, "32768m"),  # exactly the cap
        (128 * 1024 * 1024, "32768m"),  # capped at 32g
    ],
)
def test_default_driver_mem_is_half_memtotal_capped(kib, expected):
    assert _default_driver_mem(_MEMINFO.format(kib=kib)) == expected


def test_default_driver_mem_reads_memtotal_not_other_fields():
    text = "MemFree:        999999999 kB\n" + _MEMINFO.format(kib=2 * 1024 * 1024)
    assert _default_driver_mem(text) == "1024m"
