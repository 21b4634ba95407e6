"""The stamp-checked zipimport guard (``vuln_datasync_spark._zipguard``):
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is, and Python workers run with the guard installed."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import vuln_datasync_spark  # noqa: F401  (installs the guard)
from vuln_datasync_spark.functions.normalize import detect_lang_udf


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guard_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = set(sys.modules)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        importlib.invalidate_caches()
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["m1", "m2"])  # same inode, new size/mtime
        importlib.invalidate_caches()
        assert importlib.import_module("m2").NAME == "m2"
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]


def test_guard_install_is_idempotent():
    from vuln_datasync_spark import _zipguard

    before = zipimport.zipimporter.invalidate_caches
    _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_python_worker_does_not_reread_unchanged_zips(spark):
    def rereads(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import vuln_datasync_spark  # noqa: F401

        # the first call after the guard is installed records the stamps
        importlib.invalidate_caches()
        n = 0
        real_read = zipimport._read_directory

        def counting_read(path):
            nonlocal n
            n += 1
            return real_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        cached = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return pd.Series([f"{n},{cached}"] * len(s))

    udf = F.pandas_udf(rereads, "string")
    got = [
        tuple(int(x) for x in r[0].split(","))
        for r in spark.range(0, 8, numPartitions=4)
        .select(udf("id"))
        .distinct()
        .collect()
    ]
    if all(cached == 0 for _, cached in got):
        pytest.skip("Python workers import nothing from a zip")
    assert [n for n, _ in got] == [0] * len(got)


def test_detect_lang_udf_pickles_by_reference():
    # cloudpickle ships a function by reference only when its module
    # attribute of the same name is the function itself; the worker then
    # imports the package (and with it the guard) to resolve it
    f = detect_lang_udf.func
    assert getattr(sys.modules[f.__module__], f.__qualname__) is f
