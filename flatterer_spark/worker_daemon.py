"""Python worker daemon: ``pyspark.daemon`` with lazy zipimport invalidation.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``.  That calls ``invalidate_caches()`` on
every zipimporter in ``sys.path_importer_cache``, and up to Python 3.11
``zipimporter.invalidate_caches`` re-reads the whole archive directory on
the spot.  Measured in a Spark 4.1 worker on a 4-core VM, 12 importers
re-read ``pyspark.zip`` (1,328 entries, ~8 ms each) and 2 the ``spark-core``
jar on the worker path (5,359 entries, ~34 ms each): 0.14-0.24 s of CPU per
task before the user function starts, in every reused worker.

Python 3.12 made the invalidation lazy: ``invalidate_caches`` only drops the
archive's ``_zip_directory_cache`` entry and ``_get_files()`` re-reads it on
the next lookup.  :func:`patch_zipimport` installs the same behaviour where
it is missing (feature detection on ``_get_files``, no version test), so a
py-file added to an archive is still picked up -- the reason pyspark
invalidates at all -- but an untouched archive is never re-read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module;
Spark starts it with ``python -m`` and the forked workers inherit the patch.
"""

from __future__ import annotations

import zipimport


def _get_files(self):
    """The archive's directory, re-read only after an invalidation; a
    failed read is not cached (as Python 3.12's ``_get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files):
    # Only ``zipimporter.__init__`` assigns ``_files``, with the entry it
    # has just stored in ``_zip_directory_cache``; reads go through that
    # cache.  The instance copy keeps the importer whole if the class's
    # original attributes are ever put back.
    self.__dict__["_files"] = files


def _invalidate_caches(self):
    """Drop the archive's cached directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def patch_zipimport() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy; True if it patched,
    False where the interpreter's zipimporter is already lazy."""
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files"):
        return False
    zi._get_files = _get_files
    zi._files = property(_get_files, _set_files)
    zi.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    patch_zipimport()
    from pyspark.daemon import manager

    manager()
