"""Keep Python tasks from re-reading unchanged zip archives.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). On CPython < 3.12 that makes every
``zipimport.zipimporter`` on ``sys.path`` re-read its archive's whole
central directory at once; CPython 3.12 made the re-read lazy
(gh-103200). A worker holds 16-17 such importers — the spark-core jar
twice (5,359 entries, no ``.py`` files) and ``pyspark.zip`` about eleven
times — so every task of every Python stage paid 100-260 ms of CPU
before doing any work (4-core x86 host, CPython 3.11.7, Spark 4.1.2).

The guard wraps ``zipimporter.invalidate_caches``. When the archive's
``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken at its last
real read and ``zipimport._zip_directory_cache`` still holds its
directory, the importer is rebound to that cached directory. Anything
else — a first sighting, a rewritten, replaced or removed archive — runs
the original method, so changed archives are still re-read.

It is installed when the package is first imported inside a Spark task
on CPython < 3.12; the driver's interpreter is never touched.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

#: archive path -> stat stamp taken just before its last real read;
#: process-wide, like the zipimport._zip_directory_cache it vouches for
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        try:
            stamp = _stamp(archive)
        except OSError:
            _stamps.pop(archive, None)
            original(self)
            return
        cached = zipimport._zip_directory_cache.get(archive)
        if cached is not None and _stamps.get(archive) == stamp:
            self._files = cached
            return
        # stamped BEFORE the read: an archive rewritten during the read
        # mismatches next time and is read again
        original(self)
        if archive in zipimport._zip_directory_cache:
            _stamps[archive] = stamp
        else:
            _stamps.pop(archive, None)

    return invalidate_caches


def installed() -> bool:
    """Whether zipimporter.invalidate_caches is guarded in this process."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> bool:
    """Install the guard if this is a Spark task on CPython < 3.12;
    idempotent. Returns whether the guard is in place."""
    if sys.version_info >= (3, 12):
        return False
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    if not installed():
        cls = zipimport.zipimporter
        cls.invalidate_caches = _guarded(cls.invalidate_caches)
    return True
