"""End-to-end determinism pin for the benchmarked conversion chain
(VERDICT r4 #6): two full combine -> checkpoint -> dissolve(ordered) + tag
repair -> checkpoint -> OSM-sink runs must produce byte-identical parquet
AND .osm fragments. Extends the per-operator two-run pin in
tests/test_dissolve.py to the chain perfbench's ``pipeline`` workload
runs (``perfbench/workloads.py``, ``Pipeline.convert``)."""

import hashlib
import os

from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
from rlis2osm_spark.operators.dissolve import dissolve_ways
from rlis2osm_spark.operators.osm_sink import write_osm_xml
from rlis2osm_spark.plans.checkpoint import Checkpointer


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
    inputs = [f"{data_dir}/{n}.parquet"
              for n in ("streets", "trails", "bike_routes")]
    streets, trails, bikes = (spark.read.parquet(p) for p in inputs)
    ck = Checkpointer(spark, out_dir, run_id="ckpt")
    combined = ck.stage("combined",
                        lambda: combine(streets, trails, bikes),
                        inputs=inputs)
    dissolved = ck.stage(
        "dissolved",
        lambda: repair_and_filter_tags(dissolve_ways(combined, ordered=True)),
        inputs=["combined"])
    osm_dir = os.path.join(out_dir, "osm")
    sink = write_osm_xml(dissolved, osm_dir).collect()
    return {
        "n_ways": sum(r.n_ways for r in sink),
        "osm_bytes": sum(os.path.getsize(r.part_file) for r in sink),
        "parquet": _part_hashes(os.path.join(out_dir, "ckpt", "dissolved"),
                                ".parquet"),
        "osm": _part_hashes(osm_dir, ".osm"),
    }


def test_pipeline_scale_two_runs_byte_identical(spark, synth_dir, tmp_path):
    # AQE would coalesce this KB-sized input into one partition; a KB
    # floor keeps several, so the pin covers order across fragments
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "4KB")
    try:
        a, b = (_convert(spark, synth_dir, str(tmp_path / f"run{i}"))
                for i in (0, 1))
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert a["n_ways"] == b["n_ways"]
    assert a["osm_bytes"] == b["osm_bytes"]
    # byte-identical artifacts, file by file, across more than one
    # fragment so output order across partitions is pinned too
    assert a["parquet"] and a["parquet"] == b["parquet"]
    assert len(a["osm"]) > 1 and a["osm"] == b["osm"]
