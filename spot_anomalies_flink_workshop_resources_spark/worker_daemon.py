"""Python worker daemon of the engine's sessions.

``session.build_session`` sets ``spark.python.daemon.module`` to this
module. It runs pyspark's own daemon (``pyspark.daemon.manager``) with
one change: ``zipimport.zipimporter.invalidate_caches`` re-reads an
archive's directory only when the archive changed.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On CPython 3.11 that makes every
cached zipimporter eagerly re-read its archive's whole directory, and
the workers import pyspark from ``pyspark.zip``: one re-read of its
1,328 entries per cached sub-package importer, 110-290 ms per task on a
4-core host. The lazy rule stats the archive and re-reads it only when
its ``(st_mtime_ns, st_size)`` differs from what that importer last
read, so a rewritten archive is still picked up.
"""

from __future__ import annotations

import importlib
import os
import weakref
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches
# importer -> the archive's (st_mtime_ns, st_size) at its last re-read
_read_sig: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _archive_sig(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _lazy_invalidate(self: zipimport.zipimporter) -> None:
    # stat BEFORE reading: a change racing the read leaves an older
    # signature behind, so the next call re-reads again
    sig = _archive_sig(self.archive)
    if sig is not None and _read_sig.get(self) == sig:
        return
    _eager_invalidate(self)
    _read_sig[self] = sig


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _lazy_invalidate
    # record every importer the daemon already holds before it forks:
    # its workers inherit the signatures and skip their first re-read
    importlib.invalidate_caches()
    daemon.manager()
