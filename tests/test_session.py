"""Driver-memory default (session.driver_memory): derived from the box's
MemTotal, so a local session never asks for more heap than exists.  No JVM."""

import pytest

from pdf_extractor_spark.session import driver_memory


def _meminfo(kb: int) -> str:
    return f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n"


@pytest.fixture(autouse=True)
def _no_override(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_fraction_of_memtotal():
    # 15 GiB box: 40% -> 6144 MiB, well under the RAM the JVM shares
    assert driver_memory(_meminfo(15 * 1024 * 1024)) == "6144m"


def test_clamped_to_bounds():
    assert driver_memory(_meminfo(512 * 1024 * 1024)) == "32768m"
    assert driver_memory(_meminfo(1024 * 1024)) == "1024m"


def test_unreadable_meminfo_falls_back_to_floor():
    assert driver_memory("") == "1024m"
    assert driver_memory("MemFree: 10 kB\n") == "1024m"


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(_meminfo(15 * 1024 * 1024)) == "3g"


def test_reads_this_box():
    mib = int(driver_memory().rstrip("m"))
    assert 1024 <= mib <= 32 * 1024
