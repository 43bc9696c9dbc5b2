"""Driver-heap sizing: derived from the host's memory, no JVM needed."""

from __future__ import annotations

from protarrow_spark import session


def _meminfo(tmp_path, kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(path)


def test_default_heap_is_share_of_physical_memory(tmp_path):
    # a 15.7 GiB host gets 45 % of it, small enough for the JVM to reserve
    assert session._default_driver_mem(_meminfo(tmp_path, 16456384)) == "7231m"


def test_default_heap_is_capped(tmp_path):
    big = _meminfo(tmp_path, 128 * 1024 * 1024)
    assert session._default_driver_mem(big) == f"{session.HEAP_CAP_MB}m"


def test_unreadable_meminfo_falls_back_to_cap(tmp_path):
    missing = str(tmp_path / "absent")
    assert session._default_driver_mem(missing) == f"{session.HEAP_CAP_MB}m"


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_mem() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session._driver_mem() == session._default_driver_mem()
