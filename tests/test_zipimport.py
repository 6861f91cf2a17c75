"""Lazy zip-importer invalidation in Spark workers (``_zipimport``).

A PySpark task starts with ``importlib.invalidate_caches()``; before
CPython 3.13 that re-reads the central directory of every zip on the
worker's path (``pyspark.zip``, py4j, ``--py-files`` archives). The
library installs 3.13's lazy behaviour in its workers. These tests pin
that the imports it serves are the ones 3.13 serves, that a worker's
invalidation reads no zip directory, and that the driver is untouched.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# Runs in a fresh interpreter that passes for a PySpark worker, so the
# test process keeps the interpreter's own zipimport.
_SEMANTICS = textwrap.dedent(
    """
    import importlib, importlib.util, os, pkgutil, sys, zipfile, zipimport
    from pyspark import SparkFiles

    SparkFiles._is_running_on_worker = True
    import presto_bloomfilter_spark
    from presto_bloomfilter_spark import _zipimport

    backport = sys.version_info < (3, 13)
    if backport:
        assert zipimport.zipimporter.invalidate_caches is _zipimport._invalidate_caches
    _zipimport.install()  # idempotent
    if backport:
        assert zipimport.zipimporter._get_files is _zipimport._get_files
        assert isinstance(vars(zipimport.zipimporter)["_files"], property)

    archive = os.path.join(sys.argv[1], "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, src in modules.items():
                zf.writestr(name, src)

    read = zipimport._read_directory
    reads = []
    zipimport._read_directory = lambda path: reads.append(path) or read(path)

    write(**{"zmod_a.py": "X = 1", "zmod_gone.py": "", "zpkg/__init__.py": "",
             "zpkg/sub.py": "Y = 2"})
    sys.path.insert(0, archive)
    import zmod_a, zpkg.sub  # two importers over one archive
    assert (zmod_a.X, zpkg.sub.Y) == (1, 2)
    assert importlib.util.find_spec("zmod_gone") is not None

    # a module added by rewriting the zip imports after invalidation; the
    # invalidation reads nothing and the next lookup reads the zip once
    write(**{"zmod_a.py": "X = 1", "zpkg/__init__.py": "", "zpkg/sub.py": "Y = 2",
             "zmod_new.py": "Z = 3"})
    del reads[:]
    importlib.invalidate_caches()
    if backport:
        assert reads == [], reads
    import zmod_new
    assert zmod_new.Z == 3
    if backport:
        assert reads == [archive], reads

    # the module dropped by that rewrite is no longer found
    assert importlib.util.find_spec("zmod_gone") is None

    # pkgutil lists the archive after an invalidation with no lookup since
    # (3.13.0's pkgutil raises KeyError here)
    if backport:
        importlib.invalidate_caches()
        names = {m.name for m in pkgutil.iter_modules([archive])}
        assert {"zmod_a", "zmod_new", "zpkg"} <= names, names

    # a deleted archive gives no spec and no error, and is not cached
    os.remove(archive)
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zmod_other") is None
    assert archive not in zipimport._zip_directory_cache
    print("ZIP_SEMANTICS_OK")
    """
)


def test_lazy_zip_invalidation_matches_313(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _SEMANTICS, str(tmp_path)],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ZIP_SEMANTICS_OK" in proc.stdout


def test_driver_keeps_its_zipimport():
    import presto_bloomfilter_spark  # noqa: F401

    from presto_bloomfilter_spark import _zipimport

    assert zipimport.zipimporter.invalidate_caches is not _zipimport._invalidate_caches


def test_worker_invalidation_reads_no_zip_directory(spark, tmp_path):
    sc = spark.sparkContext

    def count_reads(_):
        import importlib
        import sys
        import zipimport

        import presto_bloomfilter_spark  # noqa: F401

        read = zipimport._read_directory
        calls = []
        zipimport._read_directory = lambda path: calls.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield len(calls), importers

    out = sc.parallelize(range(8), 8).mapPartitions(count_reads).collect()
    if not any(importers for _, importers in out):
        pytest.skip("the workers import nothing from a zip")
    assert [calls for calls, _ in out] == [0] * 8, out

    # Spark invalidates at each task start so that a file added since the
    # last task is importable; it still is
    pyfile = tmp_path / "pbs_zipimport_probe.zip"
    with zipfile.ZipFile(pyfile, "w") as zf:
        zf.writestr("pbs_zipimport_probe.py", "VALUE = 42\n")
    sc.addPyFile(str(pyfile))

    def import_added(_):
        import zipimport

        lazy = hasattr(zipimport.zipimporter, "_get_files")
        import pbs_zipimport_probe

        yield pbs_zipimport_probe.VALUE, lazy

    out = sc.parallelize(range(8), 8).mapPartitions(import_added).collect()
    assert [value for value, _ in out] == [42] * 8, out
    # at least one task ran in a worker whose invalidation was already lazy
    assert any(lazy for _, lazy in out), out
