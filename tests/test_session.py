"""Session profile: the driver heap is sized to the box it runs on."""

from __future__ import annotations

from big_data_medical_analysis_spark import session


def test_driver_memory_sized_to_box(monkeypatch):
    """~60% of MemTotal, capped at 24g; 24g where MemTotal can't be read."""
    gib = 1024 * 1024  # KiB per GiB, the unit of /proc/meminfo
    monkeypatch.setattr(session, "_mem_total_kib", lambda: 16 * gib)
    assert session._driver_memory() == f"{16 * 1024 * 6 // 10}m"  # 9830m
    monkeypatch.setattr(session, "_mem_total_kib", lambda: 128 * gib)
    assert session._driver_memory() == "24576m"
    monkeypatch.setattr(session, "_mem_total_kib", lambda: None)
    assert session._driver_memory() == "24576m"


def test_mem_total_unreadable_meminfo(monkeypatch):
    """A missing or malformed /proc/meminfo reads as unknown, not a crash."""
    import builtins
    import io

    real_open = builtins.open

    def fake_open(path, *a, **k):
        if path == "/proc/meminfo":
            raise OSError("no procfs")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", fake_open)
    assert session._mem_total_kib() is None
    assert session._driver_memory() == "24576m"

    monkeypatch.setattr(
        builtins,
        "open",
        lambda path, *a, **k: io.StringIO("MemTotal:   garbage kB\n")
        if path == "/proc/meminfo"
        else real_open(path, *a, **k),
    )
    assert session._mem_total_kib() is None
