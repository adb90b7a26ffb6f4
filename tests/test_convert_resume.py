"""``pipeline.convert`` resumes its snapshots only while what produced them
is unchanged: a second run into the same output resumes both stages, and
a rewritten source parquet rebuilds ``combined`` (and so ``dissolved``)
instead of serving the old snapshot."""

import ast
import os
import shutil

import pyarrow.parquet as pq

from rlis2osm_spark import pipeline
from rlis2osm_spark.pipeline import convert

PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _module_file(name: str) -> str | None:
    path = os.path.join(PKG_ROOT, *name.split("."))
    if os.path.isdir(path):
        return os.path.join(path, "__init__.py")
    return path + ".py" if os.path.exists(path + ".py") else None


def _package_imports(name: str) -> set:
    """The package modules ``name`` imports, directly or not, itself
    included (function-level imports count too)."""
    seen, todo = set(), [name]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        with open(_module_file(mod)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                todo += [a.name for a in node.names
                         if a.name.startswith("rlis2osm_spark")]
            elif (isinstance(node, ast.ImportFrom) and node.module
                  and node.module.startswith("rlis2osm_spark")):
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    todo.append(sub if _module_file(sub) else node.module)
    return seen


def test_stage_code_tokens_cover_their_imports():
    """A snapshot's code token hashes every module its producer runs, so
    editing any of them rebuilds the stage instead of resuming it."""
    assert _package_imports("rlis2osm_spark.operators.combine") <= set(
        pipeline._COMBINED_CODE)
    # the dissolved stage runs dissolve_ways and combine's tag repair
    assert (_package_imports("rlis2osm_spark.operators.dissolve")
            | _package_imports("rlis2osm_spark.operators.combine")) <= set(
        pipeline._DISSOLVED_CODE)
