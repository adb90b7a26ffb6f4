"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship H3-style tile-assignment + spatial-join pipeline
over sf0.001; ``queries``/``oracle_sql`` expose every implemented operator
from SURVEY.md §2 — exactly 50 entries (the driver's snapshot covers at
most 50, in insertion order), every one with a DuckDB oracle (see
rlis2osm_spark/queries/*; merge map in NOTES.md).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tile assignment + raster<->vector cell join + hierarchical
    rollup over documents at sf0.001 (cells via native Morton interleave,
    the WKB path exercised through the Arrow UDF coordinate extraction)."""
    from rlis2osm_spark.driver_support import ensure_package_on_workers
    from rlis2osm_spark.queries import rlis_python, spatial_sql

    ensure_package_on_workers(spark)
    sf_dir = "/root/testdata/sf0.001"
    tiled = rlis_python.s2_tile_assignment_wkb(spark, sf_dir)
    import pyspark.sql.functions as F

    roll = (
        tiled.groupBy("parent_cell")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )
    return tiled.join(roll, "parent_cell").select(
        "doc_id", "ix", "iy", "cell", "parent_cell", "n_docs", "min_doc"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rlis2osm_spark.queries import all_queries

    out = {}
    for name, fn in all_queries().items():
        def wrapped(spark, sf_dir, _fn=fn):
            from rlis2osm_spark.driver_support import ensure_package_on_workers

            ensure_package_on_workers(spark)
            return _fn(spark, sf_dir)

        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    from rlis2osm_spark.queries import all_oracles

    return all_oracles()
