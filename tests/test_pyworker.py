"""The engine's Python worker daemon: the stat-gated zip invalidation, the
frozen preloaded heap in live workers, and workers that import the engine
whatever directory the driver was launched from."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from big_data_medical_analysis_spark import pyworker

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def gate(monkeypatch):
    """Install the gate for one test; the stock method and the importer
    cache come back after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    return pyworker.install_zip_gate


@pytest.fixture
def reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls per archive."""
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def _cache_importer(monkeypatch, path: str) -> zipimport.zipimporter:
    importer = zipimport.zipimporter(path)
    monkeypatch.setitem(sys.path_importer_cache, path, importer)
    return importer


def test_unchanged_zip_is_not_reread(gate, reads, monkeypatch, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zg_pkg/__init__.py": "", "zg_pkg/a.py": "A = 1\n"})
    _cache_importer(monkeypatch, archive)
    _cache_importer(monkeypatch, os.path.join(archive, "zg_pkg"))
    assert gate() is True
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert [a for a in reads if a == archive] == []


def test_rewritten_zip_is_reread_by_every_importer(
    gate, reads, monkeypatch, request, tmp_path
):
    """Two importers hold their own copy of one archive's directory; a key
    kept per archive would let the second keep its stale copy."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zg_pkg2/__init__.py": "", "zg_pkg2/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    names = ("zg_pkg2", "zg_pkg2.a", "zg_pkg2.b", "zg_top")
    request.addfinalizer(lambda: [sys.modules.pop(n, None) for n in names])
    importlib.import_module("zg_pkg2.a")
    sub = sys.path_importer_cache[os.path.join(archive, "zg_pkg2")]
    top = sys.path_importer_cache[archive]
    assert isinstance(sub, zipimport.zipimporter)
    assert isinstance(top, zipimport.zipimporter) and top is not sub
    gate()
    importlib.invalidate_caches()

    _write_zip(archive, {
        "zg_pkg2/__init__.py": "", "zg_pkg2/a.py": "A = 1\n",
        "zg_pkg2/b.py": "B = 2\n", "zg_top.py": "T = 3\n",
    })
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zg_pkg2.b").B == 2
    assert importlib.import_module("zg_top").T == 3
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_gate_installs_nothing_where_zip_reads_are_lazy(gate, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: self._files,
        raising=False,
    )
    stock = zipimport.zipimporter.invalidate_caches
    assert gate() is False
    assert zipimport.zipimporter.invalidate_caches is stock


def test_gate_installed_twice_is_harmless(gate, reads, monkeypatch, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m.py": ""})
    importer = _cache_importer(monkeypatch, archive)
    assert gate() is True
    installed = zipimport.zipimporter.invalidate_caches
    assert gate() is True
    assert zipimport.zipimporter.invalidate_caches is installed
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    _write_zip(archive, {"m.py": "", "n.py": "N = 1\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importer.find_spec("n") is not None


def test_live_workers_run_under_the_engine_daemon(spark):
    """Pins the profile, not a timing: every task runs in a worker forked
    from ``pyworker`` after it froze the preloaded heap and gated zip
    invalidation."""
    import pandas as pd

    def probe(batches):
        import gc
        import zipimport as zi

        main = sys.modules["__main__"]
        for _ in batches:
            yield pd.DataFrame({
                "frozen": [gc.get_freeze_count()],
                "gated": [
                    getattr(zi.zipimporter.invalidate_caches, "_stat_gated",
                            False)
                ],
                "daemon": [getattr(main.__spec__, "name", "")],
            })

    rows = (
        spark.range(0, 40, 1, 4)
        .mapInPandas(probe, "frozen long, gated boolean, daemon string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.frozen > 0
        assert r.gated
        assert r.daemon == "big_data_medical_analysis_spark.pyworker"


_LAUNCH_ANYWHERE = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    from big_data_medical_analysis_spark.session import get_spark
    from big_data_medical_analysis_spark.operators.multimodal import (
        _synth_content,
    )

    spark = get_spark("launch_anywhere", master="local[2]", extra_conf={{
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    }})

    def passthrough(batches):
        for pdf in batches:
            yield pdf

    ids = spark.range(0, 4, 1, 2).withColumnRenamed("id", "img_id")
    n_udf = len(ids.select(_synth_content("img_id").alias("c")).collect())
    n_main = len(ids.mapInPandas(passthrough, "img_id long").collect())
    print("ROWS", n_udf, n_main)
    spark.stop()
""")


def test_python_stages_run_from_any_launch_directory(tmp_path):
    """A driver started outside the repository, with the package only on
    its own ``sys.path``, runs an engine pandas UDF and a ``mapInPandas``
    defined in ``__main__``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _LAUNCH_ANYWHERE.format(root=_ROOT)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS 4 4" in out.stdout
