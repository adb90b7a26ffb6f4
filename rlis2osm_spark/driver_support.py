"""Support for running under an external driver (spark-submit contract).

Python workers deserialize pandas UDFs by importing this package; when the
driver's SparkSession was created without ``--py-files rlis2osm_spark.zip``
(e.g. the verification harness), we ship the package at runtime via
``SparkContext.addPyFile`` — the local-mode equivalent of the north rule's
``spark-submit --py-files`` deployment.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

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
