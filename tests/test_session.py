"""Driver heap sizing from host RAM (no Spark session is started)."""

from __future__ import annotations

from voz_spark.session import driver_heap, host_mem_bytes

GiB = 1 << 30


def test_driver_heap_is_half_of_ram():
    assert driver_heap(16 * GiB) == "8192m"
    assert driver_heap(15 * GiB) == "7680m"


def test_driver_heap_cap_and_floor():
    assert driver_heap(256 * GiB) == "32768m"  # capped at 32g
    assert driver_heap(64 * GiB) == "32768m"
    assert driver_heap(1 * GiB) == "1024m"  # floored at 1g
    assert driver_heap(0) == "1024m"


def test_driver_heap_unknown_ram_keeps_cap():
    assert driver_heap(None) == "32g"


def test_host_mem_bytes_parses_meminfo(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       15728640 kB\nMemFree:        1000 kB\n")
    assert host_mem_bytes(str(p)) == 15 * GiB
    assert driver_heap(host_mem_bytes(str(p))) == "7680m"


def test_host_mem_bytes_unreadable(tmp_path):
    assert host_mem_bytes(str(tmp_path / "missing")) is None
    p = tmp_path / "meminfo"
    p.write_text("MemFree: 1000 kB\n")
    assert host_mem_bytes(str(p)) is None
