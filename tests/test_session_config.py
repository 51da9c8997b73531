"""Session configuration computed without starting Spark."""

from __future__ import annotations

import pytest

from hikma_engine_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1024 kB\n"
        "MemAvailable:    2048 kB\n"
    )
    return str(path)


@pytest.mark.parametrize(
    ("total_gib", "expected"),
    [(16, "8g"), (15.6, "7g"), (128, "64g"), (512, "64g"), (1, "1g")],
)
def test_default_driver_memory_is_half_of_memtotal_capped(tmp_path, total_gib, expected):
    kb = int(total_gib * 1024 * 1024)
    assert default_driver_memory(_meminfo(tmp_path, kb)) == expected


def test_default_driver_memory_without_meminfo_uses_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "64g"
