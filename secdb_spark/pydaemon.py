"""Spark's Python daemon for engine sessions: ``pyspark.daemon`` with zip
archives re-read only when they change.

pyspark's worker calls ``importlib.invalidate_caches()`` on every task, and
CPython's ``zipimporter.invalidate_caches`` re-reads its archive's whole
directory each time.  A worker holds one zipimporter per ``pyspark.zip``
package it has imported, plus py4j's zip and the spark-core jar, so each task
re-read them all (75-97 ms of a trivial task on a 4-vCPU host).  Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs
from the stamp it keeps, so an archive rewritten in place is still read.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def stamp(path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_size)`` of ``path``, None if it cannot be read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self) -> None:
    now = stamp(self.archive)
    if now is None or now != getattr(self, "_secdb_stamp", None):
        _reread(self)
        self._secdb_stamp = now


def install() -> None:
    """Guard every zipimporter's ``invalidate_caches``, and stamp the
    importers this process holds: each read its archive when it was made."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder._secdb_stamp = stamp(finder.archive)


if __name__ == "__main__":
    from pyspark import daemon

    install()  # once, before the daemon forks its workers
    daemon.manager()
