"""Python worker daemon: PySpark's stock daemon, minus the per-task zip tax.

PySpark calls ``importlib.invalidate_caches()`` before every task, and
on CPython 3.11 each ``zipimporter`` on the worker's path answers by
re-parsing its archive's central directory: ``pyspark.zip`` and the
``spark-core`` jar cost 0.17-0.24 s per task on a 4-core host, against
0.04 s for a whole JVM-only job. Before any worker forks, this daemon
makes an importer re-read its archive only when the archive's
``(st_mtime_ns, st_size)`` changed since this process last read it, so
a zip added mid-session with ``addPyFile`` is still picked up.

Launched by the JVM as ``python -m <this module> pyspark.worker`` when
``spark.python.daemon.module`` names it (``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp when read


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)  # stamp taken first: a later rewrite re-reads
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch the importer class, then read every archive already on the
    path once, so forked workers inherit the stamps."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # import under the real name so the patch is attributed to this module
    from data_pipeline_standalone_scripts_spark.worker_daemon import install
    from pyspark.daemon import manager

    install()
    manager()
