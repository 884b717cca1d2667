"""Driver heap default: sized from the host's memory, never above the cap."""

from surfactant_spark.session import MAX_DRIVER_MEM_MB, default_driver_mem


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_mem_is_half_of_host(tmp_path):
    # a 16 GB host gets an 8 GB heap, not the 48g cap
    assert default_driver_mem(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"
    assert default_driver_mem(_meminfo(tmp_path, 16479424)) == "8046m"


def test_default_driver_mem_caps_large_hosts(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 512 * 1024 * 1024)) == f"{MAX_DRIVER_MEM_MB}m"
    assert MAX_DRIVER_MEM_MB == 48 * 1024


def test_default_driver_mem_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "missing")) == f"{MAX_DRIVER_MEM_MB}m"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemFree: 1 kB\n")
    assert default_driver_mem(str(garbled)) == f"{MAX_DRIVER_MEM_MB}m"
