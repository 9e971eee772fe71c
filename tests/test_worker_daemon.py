"""The worker daemon's lazy zip refresh: ``importlib.invalidate_caches()``
re-reads an archive only when it changed since the importer last read
it, and a rewritten archive's new module imports. No Spark."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from spot_anomalies_flink_workshop_resources_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_lazy_refresh_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"lazyzip_a": "VALUE = 1\n"})
    reads = []

    def counting_eager(self):
        if self.archive == archive:
            reads.append(self.archive)
        eager(self)

    eager = worker_daemon._eager_invalidate
    monkeypatch.setattr(worker_daemon, "_eager_invalidate", counting_eager)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._lazy_invalidate
    )
    monkeypatch.syspath_prepend(archive)
    try:
        import lazyzip_a

        assert lazyzip_a.VALUE == 1
        importlib.invalidate_caches()  # first call: nothing recorded yet
        assert len(reads) == 1
        importlib.invalidate_caches()  # unchanged archive: no re-read
        importlib.invalidate_caches()
        assert len(reads) == 1

        _write_zip(archive, {"lazyzip_a": "VALUE = 1\n", "lazyzip_b": "VALUE = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()  # rewritten archive: re-read
        assert len(reads) == 2
        import lazyzip_b

        assert lazyzip_b.VALUE == 2
    finally:
        for name in ("lazyzip_a", "lazyzip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
