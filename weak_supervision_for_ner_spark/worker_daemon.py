"""Spark's Python worker daemon, keeping zip-archive directories across tasks.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every cached
``zipimporter`` re-read its archive's central directory: 16 importers over
the 1,328 entries of ``pyspark.zip``, 0.2-0.4 s per task. ``config.get_spark``
runs this module as ``spark.python.daemon.module``. It re-reads an archive
only when the archive's ``os.stat`` identity changed since the last read,
reads every cached archive once, then hands over to
``pyspark.daemon.manager()``, so forked workers inherit read directories.
Directory finders are still invalidated on every task, a new archive
(``addPyFile``, ``--py-files``) still gets a fresh importer, and an archive
rewritten in place is re-read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_as: dict = {}  # archive path -> its stat identity when last read


def _identity(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    identity = _identity(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if identity is None or files is None or _read_as.get(self.archive) != identity:
        # stat before the read: a rewrite during the read shows up next time
        _read_as[self.archive] = identity
        _reread(self)
    else:
        self._files = files


def install() -> None:
    """Patch ``zipimporter`` and read every cached archive once."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    # this file runs as __main__; patch with the importable copy
    from weak_supervision_for_ner_spark.worker_daemon import install

    install()
    daemon.manager()
