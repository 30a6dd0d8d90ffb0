"""The package's Python worker daemon (``wikitrender_spark/pydaemon.py``):
its zip-importer invalidation re-reads an archive only when it changed,
and the tier-1 session's workers fork from it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from wikitrender_spark import pydaemon


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_zip_directory_is_reread_only_when_the_archive_changes(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    files = {"wtr_zip_pkg/__init__.py": "", "wtr_zip_pkg/a.py": "X = 1\n"}
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    # restores the stock method after install() below
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read_at", {})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    try:
        # two importers over one archive: its root and the package's path
        assert importlib.import_module("wtr_zip_pkg.a").X == 1
        assert sum(isinstance(sys.path_importer_cache.get(p),
                              zipimport.zipimporter)
                   for p in (archive, os.path.join(archive, "wtr_zip_pkg"))) == 2
        if sys.version_info < (3, 13):  # the stock method re-reads eagerly
            reads.clear()
            importlib.invalidate_caches()
            assert reads.count(archive) == 2

        pydaemon.install()
        importlib.invalidate_caches()  # the first call reads and stamps
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        st = os.stat(archive)
        _write_zip(archive, {**files, "wtr_zip_pkg/b.py": "Y = 2\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        # one read, shared by both importers; the new module imports
        # through the package path's importer
        assert reads.count(archive) == 1
        assert importlib.import_module("wtr_zip_pkg.b").Y == 2
    finally:
        for name in ("wtr_zip_pkg", "wtr_zip_pkg.a", "wtr_zip_pkg.b"):
            sys.modules.pop(name, None)
        for p in (archive, os.path.join(archive, "wtr_zip_pkg")):
            sys.path_importer_cache.pop(p, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_tier1_workers_run_under_the_package_daemon(spark):
    @F.udf("struct<file:string,name:string,frozen:int>")
    def probe(_):
        import gc
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return fn.__code__.co_filename, fn.__name__, gc.get_freeze_count()

    row = spark.range(1).select(probe("id").alias("p")).first().p
    assert os.path.samefile(row.file, pydaemon.__file__), row
    assert row.name == "_invalidate_caches"
    assert row.frozen > 0
