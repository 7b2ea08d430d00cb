"""Python worker daemon of ``get_spark`` sessions: ``pyspark.daemon``
with one change, to how a task revalidates the zip archives on
``sys.path``.

Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
CPython 3.13 that makes every ``zipimport.zipimporter`` re-parse its
archive's whole central directory at once. A worker holds 16 of them
(``pyspark.zip`` twelve times, once per package path inside it; the
Spark core jar and the py4j zip twice each), 26,672 entries per task,
which was two thirds of a no-op ``mapInPandas`` task's worker CPU
(0.09 s, 0.03 s without the re-parse).

Here :func:`invalidate_caches` re-reads an archive only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from this
process's last read of it; otherwise the importer takes the cached
directory. A rewritten archive is still re-read, and ``FileFinder``
invalidation is untouched. An import sees the same archive contents
as on CPython 3.13, where ``invalidate_caches`` only drops the cache
entry and an archive is read again when an import next looks in it;
3.13 needs no override, so it is installed only on older
interpreters.

Spark starts the daemon as ``python -m sparkobs.pyworker`` (the
``spark.python.daemon.module`` conf ``get_spark`` sets); the forked
workers inherit the override.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) at this process's
#: last read of its directory
_STAMPS: dict[str, tuple[int, int, int]] = {}

_stdlib_read_directory = zipimport._read_directory
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _read_directory(archive: str) -> dict:
    """The stdlib's directory read, stamped. Every read goes through it,
    an importer's first one included. The stamp is taken before the
    read, so a rewrite racing the read leaves a stale stamp and the
    next revalidation reads again."""
    stamp = _stamp(archive)
    files = _stdlib_read_directory(archive)
    if stamp is not None:
        _STAMPS[archive] = stamp
    return files


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive``'s directory only if the file changed
    since this process last read it."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
        self._files = cached
    else:
        _stdlib_invalidate(self)


def install() -> None:
    """Stamp directory reads and revalidate by stamp, where the stdlib
    re-parses eagerly (CPython < 3.13)."""
    if sys.version_info < (3, 13):
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # imports pyspark.worker, which creates the worker's zipimporters
    from pyspark import daemon

    install()
    # stamp the archives read before install(), so forked workers start
    # validated
    importlib.invalidate_caches()
    daemon.manager()
