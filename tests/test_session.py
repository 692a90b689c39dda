"""Session profile: the driver heap is sized to the box it runs on, and the
Python workers run under the engine daemon from the package root."""

from __future__ import annotations

import os

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


def test_extra_conf_wins_and_workers_see_the_package_root():
    """The profile runs workers under the engine daemon from the package
    root; a caller's daemon module wins outright, and a caller's
    PYTHONPATH keeps its entries first with the root appended once."""
    root = session._PACKAGE_ROOT
    conf = session._profile(None)
    assert conf["spark.python.daemon.module"] == (
        "big_data_medical_analysis_spark.pyworker")
    assert conf["spark.executorEnv.PYTHONPATH"] == root
    conf = session._profile({
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": f"lib_a{os.pathsep}{root}{os.pathsep}lib_b",
        "spark.driver.memory": "2g",
    })
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == (
        f"lib_a{os.pathsep}{root}{os.pathsep}lib_b")
    assert conf["spark.driver.memory"] == "2g"
    conf = session._profile({"spark.executorEnv.PYTHONPATH": "lib_a"})
    assert conf["spark.executorEnv.PYTHONPATH"] == f"lib_a{os.pathsep}{root}"
