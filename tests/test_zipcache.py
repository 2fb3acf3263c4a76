"""Stat-stamped zip-directory reuse (atra_spark/_zipcache.py).

PySpark workers call importlib.invalidate_caches() before every task;
the engine's wrapper must skip the re-read of an unchanged archive and
still pick up a rewritten one, exactly like the stock method."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import atra_spark  # noqa: F401  (installs the wrapper)
from atra_spark import _zipcache

pytestmark = pytest.mark.skipif(
    not _zipcache.applies(), reason="zipimport has no eager directory re-read to skip"
)


@pytest.fixture
def zip_on_path(tmp_path):
    """Yield a function that (re)writes ``tmp_path/mods.zip`` in place;
    the archive is on sys.path. Import-system state is restored after."""
    archive = str(tmp_path / "mods.zip")
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    saved_importers = dict(sys.path_importer_cache)

    def write(modules: dict[str, str], mtime_ns: int | None = None) -> str:
        with zipfile.ZipFile(archive, "w", zipfile.ZIP_STORED) as zf:
            for name, src in modules.items():
                info = zipfile.ZipInfo(f"{name}.py", date_time=(2020, 1, 1, 0, 0, 0))
                zf.writestr(info, src)
        if mtime_ns is not None:
            os.utime(archive, ns=(mtime_ns, mtime_ns))
        return archive

    sys.path.insert(0, archive)
    try:
        yield write
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        zipimport._zip_directory_cache.pop(archive, None)
        _zipcache._stamps.pop(archive, None)
        importlib.invalidate_caches()


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    stock = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_rewritten_archive_size_change_is_picked_up(zip_on_path):
    # same mtime, same inode: only the size tells the archives apart
    mtime_ns = 1_600_000_000 * 10**9
    zip_on_path({"zc_first": "X = 1\n"}, mtime_ns=mtime_ns)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_first").X == 1
    importlib.invalidate_caches()  # records the archive's stamp
    zip_on_path({"zc_first": "X = 1\n", "zc_added": "Y = 2\n"}, mtime_ns=mtime_ns)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_added").Y == 2


def test_rewritten_archive_mtime_change_is_picked_up(zip_on_path):
    # same size, same inode: only the mtime tells the archives apart
    archive = zip_on_path({"zc_aaaa": "X = 1\n"}, mtime_ns=1_600_000_000 * 10**9)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_aaaa").X == 1
    importlib.invalidate_caches()  # records the archive's stamp
    size, ino = os.stat(archive).st_size, os.stat(archive).st_ino
    zip_on_path({"zc_bbbb": "X = 2\n"}, mtime_ns=1_700_000_000 * 10**9)
    assert (os.stat(archive).st_size, os.stat(archive).st_ino) == (size, ino)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_bbbb").X == 2
    del sys.modules["zc_aaaa"]
    with pytest.raises(ModuleNotFoundError):  # no stale directory hit
        importlib.import_module("zc_aaaa")


def test_unchanged_archive_is_read_at_most_once(zip_on_path, read_counter):
    archive = zip_on_path({"zc_pkg/__init__": "", "zc_pkg/sub/__init__": "", "zc_top": ""})
    importlib.invalidate_caches()
    importlib.import_module("zc_pkg.sub")
    importlib.import_module("zc_top")
    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive
    ]
    assert len(importers) >= 2, "need several importers on one archive"
    read_counter.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert read_counter.count(archive) <= 1


def test_deleted_archive_fails_cleanly(zip_on_path):
    archive = zip_on_path({"zc_gone": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_gone").Z == 3
    del sys.modules["zc_gone"]
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_gone")


def test_python_workers_run_the_wrapper(spark):
    # the seam: a worker that unpickles an engine UDF imports the
    # package, which installs the wrapper before the next task's
    # importlib.invalidate_caches()
    def probe(batches):
        import zipimport as zi

        import pandas as pd

        from atra_spark import _zipcache as zc

        hit = zi.zipimporter.invalidate_caches is zc.invalidate_caches
        for b in batches:
            yield pd.DataFrame({"wrapped": [hit] * len(b)})

    rows = (
        spark.range(8, numPartitions=8)
        .mapInPandas(probe, "wrapped boolean")
        .collect()
    )
    assert len(rows) == 8
    assert all(r["wrapped"] for r in rows)
