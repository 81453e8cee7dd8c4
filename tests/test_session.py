"""The driver-heap default of ``session.get_spark``, checked without a JVM."""

import pytest

from audio_quality_checker_spark import session

_read_mem_available = session._mem_available_kb


@pytest.fixture
def fake_meminfo(tmp_path, monkeypatch):
    """Point the heap default at a meminfo file written by the test."""
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    path = tmp_path / "meminfo"
    monkeypatch.setattr(session, "_mem_available_kb",
                        lambda: _read_mem_available(str(path)))
    return path


def _meminfo(avail_kb: int) -> str:
    return (
        "MemTotal:       16000000 kB\n"
        "MemFree:        14000000 kB\n"
        f"MemAvailable:   {avail_kb} kB\n"
        "Buffers:          100000 kB\n"
    )


def test_env_override_wins(fake_meminfo, monkeypatch):
    fake_meminfo.write_text(_meminfo(15_000_000))
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert session.default_driver_memory() == "6g"


def test_default_is_share_of_mem_available(fake_meminfo):
    fake_meminfo.write_text(_meminfo(15_906_816))
    # 60% of 15,906,816 kB = 9,544,089 kB -> 9320 MB
    assert session.default_driver_memory() == "9320m"


def test_default_capped_on_large_host(fake_meminfo):
    fake_meminfo.write_text(_meminfo(512 * 1024 * 1024))
    assert session.default_driver_memory() == "48g"


@pytest.mark.parametrize("content", [None, "MemTotal: 16000000 kB\n",
                                     "MemAvailable: lots kB\n"])
def test_default_falls_back_when_host_unreadable(fake_meminfo, content):
    if content is not None:
        fake_meminfo.write_text(content)
    assert session.default_driver_memory() == "48g"
