"""The stat-checked zip directory re-read (`zipimport_cache`) and the
workers' import path.

Unit tests drive `importlib.invalidate_caches()` over a zip on
`sys.path` in this process, posing as a Python worker; the Spark test
makes the same call inside a real `mapInPandas` task. Both count
`zipimport._read_directory` calls, so nothing here depends on timing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from orionld_to_hive_spark import zipimport_cache as zc

eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the stdlib re-read is lazy from 3.13"
)


@pytest.fixture
def worker(monkeypatch):
    """This process posing as a Python worker; the stdlib method and
    the read records are restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zc, "_READS", {})
    monkeypatch.setattr(zc, "in_python_worker", lambda: True)


@pytest.fixture
def reads(monkeypatch):
    """archive path -> number of directory reads since the fixture."""
    counts: dict = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _zip_on_path(tmp_path, monkeypatch, modules):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(archive)
    for name in modules:
        monkeypatch.delitem(sys.modules, name, raising=False)
    return archive


@eager_reread
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, worker, reads):
    archive = _zip_on_path(tmp_path, monkeypatch, {"zc_first": "X = 1\n"})
    assert importlib.import_module("zc_first").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    assert zc.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.get(archive, 0) == 0
    assert importlib.import_module("zc_first").X == 1


@eager_reread
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, worker, reads):
    archive = _zip_on_path(tmp_path, monkeypatch, {"zc_second": "X = 1\n"})
    importlib.import_module("zc_second")
    assert zc.install()
    monkeypatch.delitem(sys.modules, "zc_third", raising=False)
    _write_zip(archive, {"zc_second": "X = 1\n", "zc_third": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.get(archive, 0) >= 1
    assert importlib.import_module("zc_third").Y == 2
    # the new directory is the recorded one: the next call skips it
    reads.clear()
    importlib.invalidate_caches()
    assert reads.get(archive, 0) == 0


@eager_reread
def test_missing_archive_falls_through_to_stdlib(
    tmp_path, monkeypatch, worker, reads
):
    archive = _zip_on_path(tmp_path, monkeypatch, {"zc_fourth": "X = 1\n"})
    importlib.import_module("zc_fourth")
    assert zc.install()
    os.remove(archive)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    assert importer._files == {}
    assert archive not in zc._READS


def test_install_is_a_noop_in_the_driver(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    assert not zc.in_python_worker()
    assert not zc.install()
    assert zipimport.zipimporter.invalidate_caches is zc._STDLIB


def test_install_is_a_noop_from_python_313(monkeypatch, worker):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not zc.install()
    assert zipimport.zipimporter.invalidate_caches is zc._STDLIB


@eager_reread
def test_worker_task_makes_no_directory_reads(spark):
    def probe(it):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import orionld_to_hive_spark.zipimport_cache as cache

        n = [0]
        real = zipimport._read_directory

        def counting(archive):
            n[0] += 1
            return real(archive)

        zips = [
            v
            for v in list(sys.path_importer_cache.values())
            if isinstance(v, zipimport.zipimporter)
        ]
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            patched = n[0]
            # control: the stdlib method re-reads every importer
            n[0] = 0
            for imp in zips:
                cache._STDLIB(imp)
            stdlib = n[0]
        finally:
            zipimport._read_directory = real
        for _ in it:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "zips": [len(zips)],
                "patched": [patched],
                "stdlib": [stdlib],
            }
        )

    schema = "pid long, zips long, patched long, stdlib long"
    df = spark.range(0, 64, numPartitions=4).mapInPandas(probe, schema)
    df.collect()  # first tasks: workers import the package
    rows = df.collect()
    assert len(rows) == 4
    for r in rows:
        assert r.zips > 0 and r.stdlib == r.zips, r
        assert r.patched == 0, r


def test_get_spark_puts_package_root_on_worker_path(spark):
    from orionld_to_hive_spark.session import _PACKAGE_ROOT

    value = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert _PACKAGE_ROOT in value.split(os.pathsep)
