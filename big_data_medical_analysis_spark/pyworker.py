"""The engine's Python worker daemon (``spark.python.daemon.module``).

Spark forks every Python worker from one daemon process and reuses each
worker across tasks.  Stock ``pyspark.daemon`` leaves two fixed costs on
every task of a reused worker:

* ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``, and on interpreters whose
  ``zipimporter`` reads its archive eagerly (CPython < 3.13) each cached
  importer of ``pyspark.zip`` then re-parses the whole zip central
  directory — one importer per imported pyspark subpackage;
* the daemon runs a full ``gc.collect()`` after every task, over the
  whole heap of the imported pyspark, pandas and pyarrow.

``main`` removes both before it forks any worker: it gates zip
invalidation on the archive's stat (``install_zip_gate``), imports the
worker, its Arrow serializers, pandas and pyarrow once and freezes that
heap out of the collector (``gc.freeze``), then runs the stock
``pyspark.daemon.manager``.
Run as ``python -m big_data_medical_analysis_spark.pyworker <worker
module>``, the command line Spark uses for a daemon module.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def _archive_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_gate() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size, st_ino)`` changed since *that importer*
    last read it.  The key is kept per importer, not per archive: every
    importer on a rewritten zip holds its own copy of the directory, so
    each must re-read.  An importer with no key yet (made after the
    install) re-reads on its first invalidation, as stock does.

    Importers already cached in ``sys.path_importer_cache`` are refreshed
    here, one directory read per archive, so the next invalidation of an
    unchanged archive reads nothing.

    Installs nothing, and returns False, where the interpreter already
    reads zip directories lazily (``zipimporter._get_files``, CPython
    3.13+).  Installing twice is a no-op that returns True.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    if getattr(cls.invalidate_caches, "_stat_gated", False):
        return True
    stock = cls.invalidate_caches

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_read_key", None):
            stock(self)
            self._read_key = key

    invalidate_caches._stat_gated = True
    invalidate_caches.__doc__ = stock.__doc__
    cls.invalidate_caches = invalidate_caches

    by_archive: dict[str, list] = {}
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            by_archive.setdefault(finder.archive, []).append(finder)
    for archive, importers in by_archive.items():
        # stat before the read: a rewrite racing the read shows up as a
        # changed key on the next invalidation
        key = _archive_key(archive)
        try:
            files = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            continue
        zipimport._zip_directory_cache[archive] = files
        for importer in importers:
            importer._files, importer._read_key = files, key
    return True


def main() -> None:
    # the imports every worker would otherwise repeat on its first Arrow
    # task, done once here; pyspark.daemon also imports the worker module
    # named in sys.argv[1]
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    install_zip_gate()
    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
