"""Combine stage: streets + bike overlay + trails -> one OSM-tagged table
(SURVEY §3 EP2; reference main.py:47-142).

Spark shape (SURVEY §3 EP2): two declarative branches unioned by name —
Catalyst prunes columns into both scans and the union is a zero-shuffle
narrow op. The multipart explode (E1, main.py:131-138) sends every kept
trail's geometry through one Arrow-batched part-splitter, which passes a
single-part LineString through unchanged.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, BinaryType

from rlis2osm_spark.functions import wkb
from rlis2osm_spark.operators.bike import apply_bike_overlay
from rlis2osm_spark.operators.streets import expand_street_names, translate_streets
from rlis2osm_spark.operators.trails import (
    expand_trail_names,
    keep_trail,
    translate_trails,
)
from rlis2osm_spark.schemas import COMBINED_FIELDS

_INT_FIELDS = {"layer"}


@arrow_udf(ArrayType(BinaryType()))
def _explode_parts_udf(geoms: pa.Array) -> pa.Array:
    return pa.array([None if g is None else wkb.explode_parts(g)
                     for g in geoms.to_pylist()], pa.list_(pa.binary()))


def explode_multipart(df: DataFrame) -> DataFrame:
    """E1: one row per LineString part, order-stable via posexplode.

    Emits ``part_idx`` so downstream ids stay deterministic. Every row goes
    through the part splitter: Spark evaluates a Python UDF on every row of
    its input even inside a ``when`` branch, so a native single-part
    short-circuit would save nothing. Null-geometry rows are KEPT
    (posexplode_outer) rather than silently dropped — the dissolve stage
    raises on them and the sink counts them, so row loss is always loud.
    """
    return (
        df.withColumn("_parts", _explode_parts_udf(F.col("geometry")))
        .select("*", F.posexplode_outer("_parts").alias("part_idx", "_part_geom"))
        .drop("_parts", "geometry")
        .withColumnRenamed("_part_geom", "geometry")
    )


def streets_branch(streets: DataFrame, bike: DataFrame) -> DataFrame:
    """expand -> translate -> titlecase -> bike overlay (main.py:77-113)."""
    osm = translate_streets(expand_street_names(streets))
    osm = apply_bike_overlay(osm, bike)
    # the bike fan-out index is the street's sub-feature index, keeping
    # (src_table, fid, part_idx) a unique lineage key across the union
    return osm.withColumnRenamed("overlay_idx", "part_idx")


def trails_branch(trails: DataFrame) -> DataFrame:
    """expand -> drop filter -> translate -> multipart explode
    (main.py:115-138)."""
    osm = translate_trails(keep_trail(expand_trail_names(trails)))
    return explode_multipart(osm)


def combine(streets: DataFrame, trails: DataFrame, bike: DataFrame) -> DataFrame:
    """U1/T24: schema union with null fillers via unionByName; output columns
    sorted by name (O1, main.py:58) plus lineage columns
    (src_table, fid, part_idx) and geometry."""
    s = streets_branch(streets, bike).withColumn("src_table", F.lit("streets"))
    t = trails_branch(trails).withColumn("src_table", F.lit("trails"))

    lead = ["src_table", "fid", "part_idx"]
    s_out = s.select(*lead, *[c for c in COMBINED_FIELDS if c in s.columns], "geometry")
    t_out = t.select(*lead, *[c for c in COMBINED_FIELDS if c in t.columns], "geometry")

    combined = s_out.unionByName(t_out, allowMissingColumns=True)
    # deterministic column order: lineage, sorted tag fields, geometry (O1)
    typed = [
        F.col(f"`{c}`").cast("int" if c in _INT_FIELDS else "string").alias(c)
        for c in COMBINED_FIELDS
    ]
    return combined.select(*lead, *typed, "geometry")


def repair_and_filter_tags(df: DataFrame) -> DataFrame:
    """S9 sink-side tag assembly (repair_keys.py:2-24): mangled .dbf keys are
    repaired at schema level by our column names already carrying the full
    OSM keys; here we assemble the final ``tags`` map dropping ''/null values
    (``v != '' and v is not None``)."""
    entries = []
    for c in COMBINED_FIELDS:
        entries.append(F.lit(c))
        entries.append(F.col(f"`{c}`").cast("string"))
    tags = F.map_filter(
        F.map_from_arrays(
            F.array(*entries[::2]), F.array(*entries[1::2])
        ),
        lambda k, v: v.isNotNull() & (v != ""),
    )
    return df.withColumn("tags", tags)
