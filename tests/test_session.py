"""Session factory defaults that depend on the host."""

from __future__ import annotations

from dataengineeringpipeline_spark.session import default_driver_memory

GIB_KIB = 2**20


def test_driver_memory_is_a_quarter_of_ram_clamped_to_1_16_gib():
    assert default_driver_memory(15 * GIB_KIB) == "3g"  # floor(15 / 4)
    assert default_driver_memory(32 * GIB_KIB) == "8g"
    assert default_driver_memory(2 * GIB_KIB) == "1g"  # floor: 1 GiB
    assert default_driver_memory(512 * 1024) == "1g"
    assert default_driver_memory(64 * GIB_KIB) == "16g"
    assert default_driver_memory(1024 * GIB_KIB) == "16g"  # ceiling: 16 GiB


def test_driver_memory_reads_this_host():
    size = default_driver_memory()
    assert size.endswith("g") and 1 <= int(size[:-1]) <= 16
