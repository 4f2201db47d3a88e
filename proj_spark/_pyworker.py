"""Per-task start-up cost of a reused PySpark Python worker.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``).  Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` answers by re-reading the
archive's whole central directory, once per importer instance.
``pyspark.zip`` (3.5 MB) has one importer per imported subpackage, 16
in a worker that has run an Arrow UDF, so each task pays about 0.24 s
of CPU before it sees a row, however few rows it gets.  CPython 3.13
made the re-read lazy.

:func:`install` makes the re-read conditional.  Each read of an
archive's directory saves the archive's ``(st_ino, st_size,
st_mtime_ns, st_ctime_ns)``.  ``invalidate_caches()`` re-reads only
when that signature has changed; otherwise the importer is pointed at
the directory already held in ``zipimport._zip_directory_cache``.  A
changed archive is still re-read at the next ``invalidate_caches()``,
and a missing or unreadable one goes through the original method, so
what imports see does not change.

``proj_spark/__init__.py`` installs it, so it is in place in every
worker that has imported the package.  A UDF body that cloudpickle
ships by value and that names no module-level proj_spark function
therefore imports the package itself (``from .. import _pyworker``).
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature taken just before its last directory read
_SIGNATURES: dict = {}


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def install() -> None:
    """Patch ``zipimport`` once per process; a no-op on Python >= 3.13,
    without the private directory cache, or when already installed."""
    if sys.version_info >= (3, 13):
        return
    cache = getattr(zipimport, "_zip_directory_cache", None)
    read_directory = getattr(zipimport, "_read_directory", None)
    if not isinstance(cache, dict) or read_directory is None:
        return
    invalidate = zipimport.zipimporter.invalidate_caches
    if invalidate.__module__ == __name__:
        return

    def _read_directory(archive):
        # stat BEFORE reading: a change racing the read leaves an old
        # signature next to a newer directory, which only costs a re-read
        sig = _signature(archive)
        files = read_directory(archive)
        if sig is None:
            _SIGNATURES.pop(archive, None)
        else:
            _SIGNATURES[archive] = sig
        return files

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = cache.get(self.archive)
        if sig is not None and files is not None \
                and _SIGNATURES.get(self.archive) == sig:
            self._files = files
            return
        _SIGNATURES.pop(self.archive, None)
        invalidate(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches

