"""The Python worker daemon (``flatterer_spark.worker_daemon``): lazy
zipimport invalidation, in process and in a ``get_spark`` session's
workers, and no patch where the interpreter is already lazy."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from flatterer_spark.worker_daemon import patch_zipimport


@pytest.fixture
def lazy_zipimport():
    """``patch_zipimport()`` for one test, undone afterwards (a no-op on
    interpreters whose zipimporter is natively lazy)."""
    zi = zipimport.zipimporter
    saved = zi.__dict__["invalidate_caches"]
    patched = patch_zipimport()
    yield
    if patched:
        del zi._get_files
        del zi._files
        zi.invalidate_caches = saved


def test_invalidate_drops_the_directory_and_sees_new_files(
    tmp_path, monkeypatch, lazy_zipimport
):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_probe_m1.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("wd_probe_m1").X == 1
        assert archive in zipimport._zip_directory_cache

        reads.clear()
        importlib.invalidate_caches()
        # dropped, not re-read: the next lookup pays for the read
        assert archive not in zipimport._zip_directory_cache
        assert archive not in reads

        # a file added to the archive is still picked up
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("wd_probe_m1.py", "X = 1\n")
            z.writestr("wd_probe_m2.py", "Y = 2\n")
        assert importlib.import_module("wd_probe_m2").Y == 2
        assert reads.count(archive) == 1
        assert archive in zipimport._zip_directory_cache
    finally:
        for name in ("wd_probe_m1", "wd_probe_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_invalidate_lazily(spark):
    """A task in a ``get_spark`` session runs in a worker forked from the
    engine daemon: invalidating a zipimporter there drops its directory
    instead of re-reading it."""
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "flatterer_spark.worker_daemon"
    )

    def probe(_):
        import sys as _sys
        import zipimport as _zi

        importers = [
            i for i in _sys.path_importer_cache.values()
            if isinstance(i, _zi.zipimporter)
        ]
        if not importers:
            yield None
            return
        imp = importers[0]
        imp.invalidate_caches()
        yield imp.archive not in _zi._zip_directory_cache

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [True]


def test_no_patch_where_zipimport_is_already_lazy(monkeypatch):
    zi = zipimport.zipimporter

    def native_get_files(self):
        return {}

    monkeypatch.setattr(zi, "_get_files", native_get_files, raising=False)
    before = dict(vars(zi))
    assert patch_zipimport() is False
    assert dict(vars(zi)) == before
