"""The engine's Python-worker daemon: zip archives are re-read only
when they change."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from parlerproject_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "wd_lib.zip")
    _write_zip(archive, {"wd_mod_a": "VALUE = 'a'\n"})
    reads = []
    reread = worker_daemon._reread

    def counting_reread(self):
        if self.archive == archive:
            reads.append(self.archive)
        return reread(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_reread", counting_reread)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_mod_a").VALUE == "a"
        importlib.invalidate_caches()   # first call: no stamp yet
        assert len(reads) == 1
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 1

        # a re-shipped archive is read again and its new module imports
        _write_zip(archive, {"wd_mod_a": "VALUE = 'a'\n",
                             "wd_mod_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("wd_mod_b").VALUE == "b"
    finally:
        for name in ("wd_mod_a", "wd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_run_the_engine_daemon(spark):
    @F.udf("string")
    def invalidate_caches_module(_):
        import zipimport
        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.range(1).select(invalidate_caches_module("id")).first()[0]
    assert got == "parlerproject_spark.worker_daemon"
