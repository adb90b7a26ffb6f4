"""End-to-end determinism pin for the conversion chain (VERDICT r4 #6): two
full ``pipeline.convert`` runs (combine -> checkpoint -> dissolve(ordered) +
tag repair -> checkpoint -> OSM sink) must produce byte-identical parquet
AND .osm fragments. Extends the per-operator two-run pin in
tests/test_dissolve.py to the chain perfbench's ``pipeline`` workload
runs (``perfbench/workloads.py``, ``Pipeline.convert``)."""

import hashlib
import os

from rlis2osm_spark.pipeline import convert


def _part_hashes(root: str, suffix: str) -> list:
    """Content hashes in part-index order: part filenames embed per-run
    UUIDs, but the part-NNNNN prefix sorts identically across runs."""
    parts = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("part-") and f.endswith(suffix):
                parts.append(os.path.join(dirpath, f))
    parts.sort(key=os.path.basename)
    out = []
    for p in parts:
        with open(p, "rb") as fh:
            out.append(hashlib.blake2b(fh.read(), digest_size=16).hexdigest())
    return out


def _convert(spark, data_dir: str, out_dir: str) -> dict:
    _dissolved, sink, _lineage = convert(spark, data_dir, out_dir)
    return {
        "n_ways": sink["n_ways"],
        "osm_bytes": sum(os.path.getsize(r.part_file)
                         for r in sink["fragments"]),
        "parquet": _part_hashes(os.path.join(out_dir, "rlis", "dissolved"),
                                ".parquet"),
        "osm": _part_hashes(os.path.join(out_dir, "rlis", "osm"), ".osm"),
    }


def test_pipeline_scale_two_runs_byte_identical(spark, synth_dir, tmp_path):
    # AQE would coalesce this KB-sized input into one partition; a KB
    # floor keeps several, so the pin covers order across fragments. A
    # range sampler that takes fewer rows than a partition holds (as at
    # any real size) would cut the same rows into files differently on
    # each run, so the pin shrinks its sample below synth_dir's partitions
    confs = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "4KB",
             "spark.sql.execution.rangeExchange.sampleSizePerPartition": "2"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        a, b = (_convert(spark, synth_dir, str(tmp_path / f"run{i}"))
                for i in (0, 1))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert a["n_ways"] == b["n_ways"]
    assert a["osm_bytes"] == b["osm_bytes"]
    # byte-identical artifacts, file by file, across more than one
    # fragment so output order across partitions is pinned too
    assert a["parquet"] and a["parquet"] == b["parquet"]
    assert len(a["osm"]) > 1 and a["osm"] == b["osm"]
