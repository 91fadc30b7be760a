"""PySpark daemon for the engine's Python workers (``spark.python.daemon.module``).

Every Python task runs ``pyspark.worker.main``, which calls
``importlib.invalidate_caches()``. Before CPython 3.13 (gh-103200) that makes
each ``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory: the spark-core jar (~5k entries) and ``pyspark.zip``, about 0.29 s
of CPU per task before it touches any data. This daemon makes the re-read
conditional on the archive's ``(st_mtime_ns, st_size, st_ino)`` stamp, then
runs the stock ``pyspark.daemon.manager``. The stamps are taken in the daemon
before it forks, so every worker starts with them; an archive rewritten on
disk is still re-read. From 3.13 on the interpreter's own behaviour stands.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path -> stamp of the file as it was when its directory was last read
_STAMPS: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)  # drops the cache entry of an archive it cannot read
    if stamp is not None:
        _STAMPS[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter`` where the interpreter re-reads eagerly; returns
    whether it did."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    if install():
        importlib.invalidate_caches()  # stamp every archive once, before forking
    from pyspark.daemon import manager

    manager()
