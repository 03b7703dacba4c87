"""Session factory defaults (yahoofinancedatalake_spark/session.py)."""

from __future__ import annotations

from yahoofinancedatalake_spark.session import default_driver_mem


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


def test_driver_mem_is_a_third_of_a_small_host(tmp_path):
    # 15.7 GB host: a 40g heap would exceed physical memory
    assert default_driver_mem(_meminfo(tmp_path, 16_461_024)) == "5358m"


def test_driver_mem_caps_at_40g_on_a_large_host(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 131_000_000)) == "40960m"


def test_driver_mem_falls_back_to_40g_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "absent")) == "40960m"
