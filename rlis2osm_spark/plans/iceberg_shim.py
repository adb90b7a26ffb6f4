"""The ONE file to swap on a real cluster: table-format primitives.

This sandbox has no Iceberg runtime jars, so snapshots and manifests are
stood in by parquet directories + JSON manifests. Every stand-in lives
HERE, behind a function whose docstring spells out the Iceberg call it
maps to (VERDICT r3 #7) — ``plans/checkpoint.py`` and dissolve's footer
row bound consume only this module, so porting to a cluster with an
Iceberg catalog means reimplementing these eight functions and nothing
else:

==========================  ==================================================
local stand-in              Iceberg call on a real cluster
==========================  ==================================================
``write_table``             ``df.writeTo(ident).using("iceberg")``
                            ``  .createOrReplace()``
``read_table``              ``spark.table(ident)`` /
                            ``spark.read.option("snapshot-id", id).table(ident)``
``put_manifest``            snapshot summary properties set at commit
                            (``df.writeTo(...).option("snapshot-property.k", v)``)
``get_manifest``            ``SELECT summary FROM ident.snapshots ORDER BY``
                            ``committed_at DESC LIMIT 1``
``drop_manifest``           ``CALL catalog.system.expire_snapshots(...)`` /
                            ``ALTER TABLE ident DROP BRANCH``
``file_row_counts``         ``record_count`` per data file of ``ident.files``
                            (manifest metadata — no data read, like the
                            parquet-footer reads here)
``partition_row_counts``    ``SELECT partition, record_count FROM ident.files``
``fingerprint_path``        the upstream table's current ``snapshot_id``
                            (content-addressed lineage for free)
==========================  ==================================================
"""

from __future__ import annotations

import glob
import json
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_manifest.json"


def write_table(df: DataFrame, location: str) -> None:
    """Materialize ``df`` as the table at ``location`` (full replace).

    Iceberg: ``df.writeTo(ident).using("iceberg").createOrReplace()`` —
    the replace is an atomic snapshot commit there; locally it is a
    directory overwrite, which is why callers gate reads on the manifest
    (`get_manifest` returning a committed entry), not on file existence."""
    df.write.mode("overwrite").parquet(location)


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Iceberg: ``spark.table(ident)``; time travel via
    ``spark.read.option("snapshot-id", sid).table(ident)``."""
    return spark.read.parquet(location)


def put_manifest(location: str, meta: dict) -> None:
    """Record the snapshot-level metadata for ``location``.

    Iceberg: these keys ride the snapshot commit itself as summary
    properties — there is no separate write, so commit+metadata are atomic.
    Locally a JSON file inside the table directory stands in; it is
    written AFTER the data, so a crash between the two leaves an invalid
    (manifest-less) table, which resume treats as absent — same safe
    failure mode, one extra rebuild."""
    with open(os.path.join(location, MANIFEST_NAME), "w") as fh:
        json.dump(meta, fh, indent=1)


def get_manifest(location: str) -> dict | None:
    """Latest committed snapshot metadata, or None if the table has no
    valid snapshot. Iceberg: newest row of ``ident.snapshots``."""
    path = os.path.join(location, MANIFEST_NAME)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (json.JSONDecodeError, OSError):
        return None


def drop_manifest(location: str) -> None:
    """Invalidate the table's snapshot so the next access rebuilds.
    Iceberg: expire/rollback the snapshot."""
    path = os.path.join(location, MANIFEST_NAME)
    if os.path.exists(path):
        os.remove(path)


def file_row_counts(paths: list[str]) -> list[int] | None:
    """Row count of each parquet file — pure metadata reads (parquet
    footers), no Spark job, no data scan. Takes local paths or ``file:``
    URIs (``DataFrame.inputFiles()``); None when a path lives on another
    filesystem.

    Iceberg: ``record_count`` of each data file in ``ident.files``."""
    import pyarrow.parquet as pq

    local = []
    for p in paths:
        uri = urlparse(p)
        if uri.scheme not in ("", "file"):
            return None
        local.append(unquote(uri.path) if uri.scheme else p)
    return [pq.read_metadata(p).num_rows for p in local]


def partition_row_counts(location: str) -> dict[str, int]:
    """Per-file row counts of the WRITTEN layout, from the footers
    (``file_row_counts``).

    Iceberg: ``SELECT file_path, record_count FROM ident.files`` reads the
    same numbers from manifest metadata."""
    part_files = sorted(glob.glob(os.path.join(location, "*.parquet")))
    return dict(zip((os.path.relpath(p, location) for p in part_files),
                    file_row_counts(part_files)))


def fingerprint_path(path: str) -> tuple:
    """Content identity of an EXTERNAL input path for lineage gating:
    every file's (relpath, size, mtime_ns).

    Iceberg: an upstream table's current ``snapshot_id`` is this
    fingerprint for free — strictly stronger (content-addressed) and O(1).
    mtime is ns-resolution so same-second rewrites still invalidate."""
    if os.path.isdir(path):
        files = sorted(
            (os.path.relpath(p, path), os.path.getsize(p),
             os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(path, "**"), recursive=True)
            if os.path.isfile(p))
        return ("dir", path, files)
    if os.path.isfile(path):
        return ("file", path, os.path.getsize(path),
                os.stat(path).st_mtime_ns)
    return ("missing", path)
