"""The local session's default driver heap (Spark-free)."""
from __future__ import annotations

import pytest

from parallel_louvain_method_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "mem_kb, want",
    [
        (15_728_640, "7680m"),  # 15 GB host: half of it
        (64 * 1024 * 1024, "32768m"),
        (256 * 1024 * 1024, "49152m"),  # capped at 48g
    ],
)
def test_default_driver_memory_is_half_memtotal_capped(tmp_path, mem_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_kb} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "49152m"
