"""Python daemon for Spark executors: ``pyspark.daemon`` without the
per-task re-read of every zip archive on ``sys.path``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task, after it puts the task's files on ``sys.path``. Before
Python 3.13 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory, and one archive is held by many importers: pyspark.zip
(about 1,300 entries) by one per package directory, plus py4j and the
spark-core jar. That is a fixed 100-200 ms per Python task on a 4-core
host, whatever the task does.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that it
re-reads an archive only when the archive's ``(st_mtime_ns, st_size)``
changed since it was last read; a rewritten archive is still picked
up. On Python 3.13 and later the invalidation is already lazy, and
:func:`install` changes nothing.

Run as a module, this is the daemon that ``session.get_spark`` names in
``spark.python.daemon.module``: it installs the wrapper, reads each
archive once, then hands off to ``pyspark.daemon``. The workers the
daemon forks inherit the wrapper and the freshly read directories. The
daemon starts before any task adds files to ``sys.path``, so the
executors' Python must be able to import this package on its own
(installed, or on ``PYTHONPATH``); ``addPyFile`` is too late.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed. Idempotent; a no-op on Python 3.13 and later."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return
    # archive path -> (st_mtime_ns, st_size) when its directory was last read
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        # stat before reading: a write that lands during the read leaves
        # an old stamp beside new data, which only costs one more read
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is None:
            stamps.pop(archive, None)
        else:
            stamps[archive] = stamp

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    importlib.invalidate_caches()  # read each archive once, before any fork
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
