"""Stat-keyed zip directory caches for Spark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory, once per importer object, and a
worker holds one importer per package directory it imported from:
twelve for ``pyspark.zip``, two each for the py4j zip and the
``spark-core`` jar Spark puts on the worker's path. Every task so parsed
~27k directory entries (~100-200 ms) before reading a byte of input.

:func:`stat_keyed` wraps that method so it re-reads an archive only when
its ``(st_ino, st_size, st_mtime_ns)`` changed since this process last
read it, and then once per archive: every other importer of the archive
re-binds to the directory just read. A missing or changed archive takes
the original path, so imports see exactly what they saw before.
CPython 3.13 made the method a cheap cache drop and needs none of this.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable

Invalidate = Callable[[zipimport.zipimporter], None]


def stat_keyed(original: Invalidate) -> Invalidate:
    """``original`` (an eager ``zipimporter.invalidate_caches``) behind
    a per-archive stat check; the returned function keeps its own
    record of when each archive was last read."""
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            key = None
        else:
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(archive)  # noqa: SLF001
        if key is not None and files is not None and read_at.get(archive) == key:
            self._files = files  # noqa: SLF001
            return
        # stat before the read: a change racing the read leaves the
        # recorded key stale, so the next call reads again
        original(self)
        read_at[archive] = key

    return invalidate_caches


def _in_spark_worker() -> bool:
    """True inside a task of a Spark Python worker. Reads the task
    context only if the worker already imported it, so a process
    without Spark does not import pyspark here."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


def install() -> bool:
    """Make this process's zipimporters stat-keyed, on CPython < 3.13
    inside a Spark Python worker only; True when installed (now or
    before). The driver and plain Python processes are left alone."""
    if sys.version_info >= (3, 13) or not _in_spark_worker():
        return False
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ != __name__:
        cls.invalidate_caches = stat_keyed(cls.invalidate_caches)
    return True
