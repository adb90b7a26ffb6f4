"""Flagship pipelines: the end-to-end jobs the engine exists for.

1. ``tile_assignment`` — the BASELINE.json headline: H3-style cell encoding
   + tile assignment over the interleaved document table (documents joined
   to media geometry, one Arrow pass for coordinates, native Morton cells),
   preserving the span-sequence invariant.
2. ``convert`` — the RLIS -> OSM conversion (reference EP1 stages 3-6):
   combine -> snapshot -> dissolve + tag repair -> snapshot -> OSM sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
from rlis2osm_spark.operators.dissolve import dissolve_ways
from rlis2osm_spark.operators.osm_sink import merge_fragments, write_osm_xml
from rlis2osm_spark.plans.checkpoint import Checkpointer, source_token
from rlis2osm_spark.sources.documents import attach_geometry, span_signature
from rlis2osm_spark.spatial.tiles import parent_cell, with_tile


def tile_assignment(
    docs: DataFrame,
    media: DataFrame,
    res: int = 12,
) -> DataFrame:
    """Assign every interleaved document its Morton tile at ``res``.

    Output keeps the untouched ``spans`` array plus a ``span_sig`` column so
    the invariant is checkable downstream without re-reading the input.
    """
    with_geom = attach_geometry(docs, media)
    tiled = with_tile(with_geom, res)
    return tiled.withColumn("span_sig", span_signature(F.col("spans"))).select(
        "doc_id", "media_ref", "x", "y", "ix", "iy", "cell", "spans", "span_sig"
    )


def tile_rollup(tiled: DataFrame) -> DataFrame:
    """Hierarchical tile stats: doc counts per cell and its ancestor two
    levels up (partial aggregation is map-side; cells are the shuffle
    key)."""
    per_cell = tiled.groupBy("cell").agg(F.count("*").alias("n_docs"))
    return per_cell.withColumn(
        "parent_cell", parent_cell(F.col("cell"), 2)
    )


# modules whose code produces each snapshot: editing one rebuilds the stage
_COMBINED_CODE = ("rlis2osm_spark.operators.combine",
                  "rlis2osm_spark.operators.streets",
                  "rlis2osm_spark.operators.trails",
                  "rlis2osm_spark.operators.bike",
                  "rlis2osm_spark.functions.expand",
                  "rlis2osm_spark.functions.titlecase_port",
                  "rlis2osm_spark.functions.wkb",
                  "rlis2osm_spark.schemas")
_DISSOLVED_CODE = ("rlis2osm_spark.operators.dissolve",
                   "rlis2osm_spark.spatial.tiles",
                   "rlis2osm_spark.plans.iceberg_shim",
                   *_COMBINED_CODE)


def convert(spark: SparkSession, data_dir: str, out_dir: str,
            run_id: str = "rlis", merged: str | None = None):
    """The RLIS -> OSM conversion, every stage a resumable snapshot under
    ``<out_dir>/<run_id>``.

    Reads ``streets``, ``trails`` and ``bike_routes`` parquet from
    ``data_dir``, stages ``combined`` (gated on the three input paths),
    dissolves with a total output order and repairs tags, stages
    ``dissolved``, and writes the WGS84 ``.osm`` fragments to
    ``<out_dir>/<run_id>/osm``. Both stages also gate on the source of
    their producing modules, so a rewritten input or an edited operator
    rebuilds instead of resuming. ``merged=<path>`` also merges the
    fragments into the single ``rlis.osm`` (reference main.py:248-257).

    Returns ``(dissolved, sink, lineage)``: the dissolved frame, the sink
    result — ``fragments`` (per-fragment stats rows), ``n_ways`` and
    ``n_null_geoms``, plus ``merge_fragments``' fields when merged — and
    the checkpoint lineage (``Checkpointer.report()``)."""
    inputs = [os.path.join(data_dir, f"{n}.parquet")
              for n in ("streets", "trails", "bike_routes")]
    streets, trails, bikes = (spark.read.parquet(p) for p in inputs)
    ck = Checkpointer(spark, out_dir, run_id)
    combined = ck.stage("combined", lambda: combine(streets, trails, bikes),
                        inputs=inputs,
                        code_token=source_token(*_COMBINED_CODE))
    dissolved = ck.stage(
        "dissolved",
        lambda: repair_and_filter_tags(dissolve_ways(combined, ordered=True)),
        inputs=["combined"], code_token=source_token(*_DISSOLVED_CODE))
    osm_dir = os.path.join(ck.root, "osm")
    rows = write_osm_xml(dissolved, osm_dir).collect()
    sink = {"fragments": rows,
            "n_ways": sum(r.n_ways for r in rows),
            "n_null_geoms": sum(r.n_null_geoms for r in rows)}
    if merged is not None:
        sink.update(merge_fragments(osm_dir, merged,
                                    expect_fragments=len(rows)))
    return dissolved, sink, ck.report()
