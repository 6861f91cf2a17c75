"""CPython 3.13's lazy zip-directory invalidation for PySpark workers.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` so that a file added with
``SparkContext.addPyFile`` becomes importable. On CPython 3.10-3.12 that
makes every ``zipimporter`` re-read its archive's central directory at
once. A reused worker holds one importer per package directory it has
imported from ``pyspark.zip`` and the py4j zip (16 of them), so each task,
even one that does nothing, reads those directories 16 times: 0.17-0.35 s
of CPU per task (Python 3.11, 4-core host, ``local[4]``).

CPython 3.13 only drops the cached directory (``zipimporter._get_files``
reads it again on the next lookup, once per archive, and an unreadable
archive reads as empty without being cached). ``install()`` puts that
behaviour into a 3.10-3.12 worker process. The package import calls it,
and a worker imports the package when it unpickles one of the library's
closures, which is after ``setup_spark_files`` has run: the first task of
a fresh worker still pays the eager re-read, and a worker that is not
reused (``spark.python.worker.reuse=false``) gains nothing.
"""

from __future__ import annotations

import pkgutil
import sys
import zipimport


def _get_files(self) -> dict:
    """The archive's directory, read on the first lookup after an
    invalidation; an unreadable archive reads as empty and is not cached."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self) -> None:
    """Drop the archive's cached directory; the next lookup reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, as in CPython 3.13, in a
    PySpark worker process; elsewhere, and when called again, do nothing.

    Before 3.13 every lookup reads ``self._files``, so a property serves it
    from ``_get_files``; its setter ignores the assignment in
    ``zipimporter.__init__``, which has cached that directory already.
    """
    zi = zipimport.zipimporter
    if not hasattr(zi, "invalidate_caches") or hasattr(zi, "_get_files"):
        return  # before 3.10 there is no invalidation; 3.13 is lazy already
    try:
        from pyspark import SparkFiles
    except ImportError:
        return  # a Spark Connect-only pyspark is never a worker
    if not getattr(SparkFiles, "_is_running_on_worker", False):
        return  # the driver

    zi._get_files = _get_files
    zi._files = property(_get_files, lambda self, files: None)
    zi.invalidate_caches = _invalidate_caches
    # Importers made before now keep a directory of their own; the
    # property hides it, so free it.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            vars(finder).pop("_files", None)

    # pkgutil reads ``_zip_directory_cache`` directly and would raise
    # KeyError for an archive invalidated since its last lookup.
    iter_zip = pkgutil.iter_zipimport_modules

    def iter_zipimport_modules(importer, prefix=""):
        importer._get_files()
        return iter_zip(importer, prefix)

    pkgutil.iter_importer_modules.register(zi, iter_zipimport_modules)
