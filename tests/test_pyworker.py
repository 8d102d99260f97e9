"""The Python-worker shim: a zipimporter re-reads its archive's
directory on `invalidate_caches()` only when the archive changed, and
the package installs the shim inside Spark tasks only (Python < 3.13)."""

import importlib.util
import sys
import zipfile
import zipimport

import pytest

from horseman_article_parser_spark import _pyworker

needs_shim = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="3.13+ zipimport only drops its cache")


@pytest.fixture()
def shim(monkeypatch):
    # monkeypatch puts the original method and an empty stamp table back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_pyworker, "_stamps", {})
    _pyworker.install()


@pytest.fixture()
def reads(monkeypatch):
    """Archives whose directory `zipimport` reads, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _import(importer, name):
    spec = importer.find_spec(name)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@needs_shim
def test_unchanged_archive_is_not_reread(tmp_path, shim, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    assert _import(importer, "m").X == 1
    counts = []
    for _ in range(2):
        reads.clear()
        importer.invalidate_caches()
        counts.append(reads.count(archive))
    assert counts == [1, 0]


@needs_shim
def test_rewritten_archive_is_reread(tmp_path, shim, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    _write_zip(archive, {"m": "X = 1\n", "m2": "Y = 2\n"})
    reads.clear()
    importer.invalidate_caches()
    assert reads.count(archive) == 1
    assert _import(importer, "m2").Y == 2


def test_no_shim_on_python_313_or_on_the_driver(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    original = zipimport.zipimporter.invalidate_caches
    # importing the package in this (driver) process left zipimport alone
    assert original is _pyworker._original_invalidate
    _pyworker.install_in_task()
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


@needs_shim
def test_spark_tasks_skip_rereading_archives(spark):
    """Inside a task, the package has installed the shim, and a task on
    a worker that imported the package before reads no archive again."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        fresh = "horseman_article_parser_spark" not in sys.modules
        from horseman_article_parser_spark import _pyworker

        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "fresh": [fresh],
            "installed": [zipimport.zipimporter.invalidate_caches
                          is _pyworker._invalidate_caches],
            "zips": [sum(isinstance(f, zipimport.zipimporter)
                         for f in sys.path_importer_cache.values())],
            "reads": [len(calls)],
        })

    parts = 4 * spark.sparkContext.defaultParallelism
    df = spark.range(0, parts, numPartitions=parts)
    schema = "pid long, fresh boolean, installed boolean, zips long, reads long"
    first = df.mapInPandas(probe, schema).collect()
    second = df.mapInPandas(probe, schema).collect()
    assert len(first) == len(second) == parts
    assert all(r.installed and r.zips > 0 for r in first + second)
    warm = [r for r in second if not r.fresh]
    assert warm and all(r.reads == 0 for r in warm)
