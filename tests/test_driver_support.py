"""The zip shipped to Python workers always holds the current source,
and workers re-read a zip on sys.path only when it changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from rlis2osm_spark import driver_support


def _source_files() -> dict:
    root = os.path.dirname(driver_support._PKG_DIR)
    out = {}
    for dirpath, _dirs, files in os.walk(driver_support._PKG_DIR):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, root)] = fh.read()
    return out


def test_package_zip_rebuilt_over_stale_zip(tmp_path):
    want = _source_files()
    zip_path = str(tmp_path / os.path.basename(driver_support.ZIP_PATH))
    # a zip left by an older checkout: same member names, other bytes
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name, data in want.items():
            zf.writestr(name, data + b"\n# stale\n")

    driver_support.build_package_zip(zip_path)

    with zipfile.ZipFile(zip_path) as zf:
        got = {n: zf.read(n) for n in zf.namelist()}
    assert got == want
    assert os.listdir(tmp_path) == [os.path.basename(zip_path)]


def _write_zip(path, members):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def restore_zipimporter(monkeypatch):
    # undo the class patch when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


def test_zip_stat_check_rereads_only_changed_archive(
        tmp_path, monkeypatch, restore_zipimporter):
    from pyspark.core.files import SparkFiles

    zip_path = str(tmp_path / "mods.zip")
    _write_zip(zip_path, {"zstat_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(zip_path)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert importlib.import_module("zstat_a").X == 1
    monkeypatch.delitem(sys.modules, "zstat_a")
    importer = sys.path_importer_cache[zip_path]
    assert isinstance(importer, zipimport.zipimporter)

    assert driver_support.install_worker_zip_stat_check()
    reads = []
    real_read = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_path not in reads

    _write_zip(zip_path, {"zstat_a.py": "X = 1\n", "zstat_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zip_path in reads
    monkeypatch.delitem(sys.modules, "zstat_b", raising=False)
    assert importlib.import_module("zstat_b").Y == 2


def test_zip_stat_check_noop_outside_worker(monkeypatch, restore_zipimporter):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    before = zipimport.zipimporter.__dict__["invalidate_caches"]
    assert not driver_support.install_worker_zip_stat_check()
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is before


def test_workers_keep_zip_directories_between_tasks(spark):
    sentinel = "__rlis2osm_spark_sentinel__"

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import rlis2osm_spark  # noqa: F401  (installs the worker patch)

        zips = [p for p in sys.path
                if isinstance(sys.path_importer_cache.get(p),
                              zipimport.zipimporter)]
        found = bool(zips)
        for p in zips:
            files = sys.path_importer_cache[p]._files
            found = found and sentinel in files
            files.setdefault(sentinel, None)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "n_zips": len(zips), "found": found}])

    rows = (spark.range(0, 32, numPartitions=32)
            .mapInArrow(probe, "pid long, n_zips long, found boolean")
            .collect())
    if not any(r.n_zips for r in rows):
        pytest.skip("no zip on the Python workers' sys.path")
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r.found)
    reused = {pid: f for pid, f in by_pid.items() if len(f) > 1}
    assert reused, by_pid
    # a worker's first task plants the sentinel; every later task sees it
    for pid, found in reused.items():
        assert sorted(found) == [False] + [True] * (len(found) - 1), (pid, found)
