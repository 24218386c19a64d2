"""Session sizing, without starting a JVM."""

from __future__ import annotations

from data_pipeline_foundations_spark.session import default_driver_memory


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_the_host(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 15_728_640)) == "7680m"


def test_driver_memory_caps_at_24g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 128 << 20)) == "24576m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "24g"
