"""Support for running under an external driver (spark-submit contract).

Python workers deserialize the package's Arrow UDFs and map kernels by
importing this package; when the
driver's SparkSession was created without ``--py-files rlis2osm_spark.zip``
(e.g. the verification harness), we ship the package at runtime via
``SparkContext.addPyFile`` — the local-mode equivalent of the north rule's
``spark-submit --py-files`` deployment.

The same import makes each worker install
``install_worker_zip_stat_check``, which removes PySpark's per-task
re-read of every zip on the worker's ``sys.path``.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_PKG_DIR)
ZIP_PATH = os.path.join(_ROOT, ".cache", "rlis2osm_spark_pyfiles.zip")


def build_package_zip(zip_path: str = ZIP_PATH) -> str:
    """Write the package's current ``.py`` files, under repo-relative
    names, to ``zip_path``. The zip is rebuilt on every call and swapped
    in atomically, so a source edit never ships stale code."""
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=os.path.dirname(zip_path))
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(_PKG_DIR):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, _ROOT))
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return zip_path


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship the package zip to ``spark``'s workers once per SparkContext.
    Queries call this on every invocation, so the already-shipped check
    reads the context itself and builds nothing."""
    sc = spark.sparkContext
    if os.path.basename(ZIP_PATH) in sc._python_includes:
        return
    sc.addPyFile(build_package_zip())


def install_worker_zip_stat_check() -> bool:
    """In a Python worker, make ``zipimporter.invalidate_caches`` re-read
    an archive's central directory only when the file changed.

    PySpark calls ``importlib.invalidate_caches()`` before every task, and
    CPython 3.11's zipimporter answers by re-reading its whole archive:
    pyspark.zip, py4j and the spark-core jar, about 0.2 s of CPU per task.
    The patched method keeps the ``(st_mtime_ns, st_size, st_ino)`` stamp
    taken just before each importer's last read and calls the original
    whenever the stamp differs or ``stat`` fails, so an archive rewritten
    in place or swapped by ``os.replace`` (as ``build_package_zip`` does)
    is still re-read. Importers that exist at install time are re-read
    once to take their stamp. Outside a worker this does nothing and
    returns False."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stat_stamp", None):
            reread(self)
            self._stat_stamp = stamp

    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
    return True
