"""Stat-gated ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every planner call
and every task.  Before CPython 3.13 that reaches
``zipimport.zipimporter.invalidate_caches`` for every zip importer in
``sys.path_importer_cache``, and each one re-parses its archive's whole
central directory.  A Spark worker's path carries ``pyspark.zip``
(~1.3k entries) and the ``spark-core`` jar (~5.4k entries), so a worker
spends ~220 ms in that call before it runs any user code — about 10×
the cost of planning or reading a small Python data source.

This module replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the key
recorded when this module last read it; otherwise it re-points the
importer at the shared ``zipimport._zip_directory_cache`` entry, which
holds the directory that read produced.  An archive this module has not
read yet, a changed archive and a vanished archive all take the stdlib
path unchanged.  The key is taken BEFORE the read, so a write racing
the read leaves a stale key and forces one more read, never a missed
one.

CPython 3.13 made the re-read lazy (it only drops the cache entry), so
there the module does nothing.  It is imported first by the package,
so it is live in the driver and in every Python worker that unpickles
anything from the package (data sources, readers, UDFs).
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 13) and (
    zipimport.zipimporter.invalidate_caches.__module__ != __name__
):
    _stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
    #: archive path -> stat key at the time this module last read it
    _read_keys: dict[str, tuple[int, int, int]] = {}

    def _stat_key(path: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(path)
        except (OSError, ValueError):
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def invalidate_caches(self) -> None:
        """Reload the archive's file data if it changed since the last read."""
        archive = self.archive
        key = _stat_key(archive)
        if key is not None and _read_keys.get(archive) == key:
            files = zipimport._zip_directory_cache.get(archive)
            if files is not None:
                self._files = files
                return
        _stdlib_invalidate_caches(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            _read_keys[archive] = key
        else:
            _read_keys.pop(archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
