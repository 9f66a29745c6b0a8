"""Reuse unchanged zip directories across Python-worker tasks.

PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of every task.  On CPython 3.10-3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory, once per importer (3.13 only drops the cached directory
and reads it again when the importer is next used).  A warm worker holds
16-20 such importers: about 12 over ``pyspark.zip`` (1,328 entries,
10.5 ms a read), 2 over the Spark core jar (5,359 entries, 40 ms a read),
the rest over py4j and the sketchlib zip ``shipping`` ships.  Every task
paid 156-238 ms for that before it touched data.

``install`` wraps ``zipimporter.invalidate_caches``.  When an archive's
``(st_mtime_ns, st_size, st_ino)`` equals the stat taken just before the
wrapper last read it, the importer takes the directory already parsed in
``zipimport._zip_directory_cache``.  An archive the wrapper has not read
yet, or one that changed, was replaced or is missing, goes through the
stock method, so a rewritten ``--py-files`` zip is still picked up.  A
worker's second task therefore reads each archive once, and its later tasks
read none.

``sketchlib/__init__.py`` installs it once per Python worker process; the
driver keeps the stock method.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches

# archive path -> its stat signature taken just before the wrapper's last
# read of it
_READ_SIG: dict[str, tuple[int, int, int]] = {}
_LOCK = threading.Lock()


def _invalidate_if_changed(self) -> None:
    # the lock keeps each archive's cached directory and _READ_SIG entry a
    # pair when two threads invalidate while the archive changes
    with _LOCK:
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            _READ_SIG.pop(archive, None)
            _STOCK(self)
            return
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _READ_SIG.get(archive) == sig:
            self._files = files
            return
        # stat before the read: a write racing the read leaves a stale
        # signature, which only costs one more read next time
        _STOCK(self)
        if archive in zipimport._zip_directory_cache:
            _READ_SIG[archive] = sig
        else:
            _READ_SIG.pop(archive, None)


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` where it re-reads eagerly
    (Python < 3.13).  Idempotent; returns whether this call installed it."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or zi.invalidate_caches is not _STOCK:
        return False
    zi.invalidate_caches = _invalidate_if_changed
    return True
