"""Session factory defaults that need no Spark."""

from __future__ import annotations

from etl_master_spark.session import MAX_DRIVER_MEM_GIB, default_driver_memory


def test_driver_memory_defaults_to_half_the_machine_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16045620 kB\nMemFree:        1 kB\n")
    assert default_driver_memory(str(meminfo)) == f"{16045620 // 2 // 1024}m"
    meminfo.write_text("MemTotal:       263765220 kB\n")
    assert default_driver_memory(str(meminfo)) == f"{MAX_DRIVER_MEM_GIB * 1024}m"
    assert default_driver_memory(str(tmp_path / "missing")) == f"{MAX_DRIVER_MEM_GIB}g"
