"""rlis2osm_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of the reference
(`grant-humphries/rlis2osm`, read-only at /root/reference) as an idiomatic
Spark DataFrame engine, generalized to web scale per BASELINE.json:

- interleaved text+media document tables
  (``doc_id string, spans array<struct<kind,text,media_ref,offset>>``)
- vectorized Arrow UDFs only; the conversion's kernels (dissolve, tile
  midpoints, OSM sink) read Arrow buffers with numpy, with no Python
  object per row (per output component or unique node at most)
- Z-order (Morton) hierarchical tile index implemented with *native* column
  expressions (JVM-side, whole-stage-codegen friendly), point-in-polygon,
  kNN, raster<->vector tile joins
- explicit partitioning / broadcast / salting decisions, AQE on
- snapshot checkpoint/resume with per-partition lineage + row-count metrics

Nothing is copied from the reference; every operator cites the reference
file:line whose *semantics* it reproduces (see SURVEY.md §2).
"""

__version__ = "0.1.0"

import sys as _sys

# Python workers import this package to unpickle its UDFs; there, and only
# there, stop PySpark's per-task cache invalidation from re-reading every
# zip on sys.path (see driver_support.install_worker_zip_stat_check).
if "pyspark.core.files" in _sys.modules:
    if _sys.modules["pyspark.core.files"].SparkFiles._is_running_on_worker:
        from rlis2osm_spark.driver_support import install_worker_zip_stat_check

        install_worker_zip_stat_check()
