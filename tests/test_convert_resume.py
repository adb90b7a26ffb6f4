"""``pipeline.convert`` resumes its snapshots only while what produced them
is unchanged: a second run into the same output resumes both stages, and
a rewritten source parquet rebuilds ``combined`` (and so ``dissolved``)
instead of serving the old snapshot."""

import os
import shutil

import pyarrow.parquet as pq

from rlis2osm_spark.pipeline import convert


def _stages(lineage: list) -> dict:
    return {m["stage"]: m for m in lineage}


def test_convert_resumes_and_rebuilds_after_source_rewrite(
        spark, synth_dir, tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    for n in ("streets", "trails", "bike_routes"):
        shutil.copy(os.path.join(synth_dir, f"{n}.parquet"), data)
    out = str(tmp_path / "out")

    dissolved, sink, lineage = convert(spark, str(data), out)
    assert not any(m["resumed"] for m in lineage)
    n_combined = _stages(lineage)["combined"]["row_count"]
    # every dissolved way reaches an OSM fragment
    assert sum(r.n_ways for r in sink["fragments"]) == dissolved.count()

    _, _, lineage = convert(spark, str(data), out)
    assert [(m["stage"], m["resumed"]) for m in lineage] == [
        ("combined", True), ("dissolved", True)]

    streets = data / "streets.parquet"
    table = pq.read_table(streets)
    pq.write_table(table.slice(0, table.num_rows - 10), streets)
    dissolved, sink, lineage = convert(spark, str(data), out)
    stages = _stages(lineage)
    assert stages["combined"]["resumed"] is False
    assert stages["combined"]["rebuilt_stale"] is True
    assert stages["combined"]["row_count"] < n_combined
    assert stages["dissolved"]["resumed"] is False
    assert sum(r.n_ways for r in sink["fragments"]) == dissolved.count()
