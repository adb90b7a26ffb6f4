"""Bucketed join must be shuffle-free: no Exchange on either side."""

from pyspark.sql import functions as F

from rlis2osm_spark.plans.iceberg_shim import (
    write_bucketed, write_range_clustered)
from rlis2osm_spark.sources.documents import first_media_ref


def test_bucketed_doc_media_join_no_shuffle(spark, synth_dir):
    docs = spark.read.parquet(f"{synth_dir}/documents_rlis.parquet")
    media = spark.read.parquet(f"{synth_dir}/media.parquet")
    keyed = docs.select(
        "doc_id", first_media_ref(F.col("spans")).alias("media_ref"))

    write_bucketed(keyed, "docs_b", "media_ref", n_buckets=4)
    write_bucketed(media.select("media_ref", "media_kind"),
                   "media_b", "media_ref", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at sandbox scale the planner would broadcast; disable it so the
        # plan shows what a 100TB fact<->fact bucketed join does
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("docs_b").join(spark.table("media_b"),
                                            "media_ref")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located buckets
        assert "Bucketed: true" in plan
        assert joined.count() == keyed.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS docs_b")
        spark.sql("DROP TABLE IF EXISTS media_b")


def test_range_clustered_write_disjoint_file_ranges(spark, tmp_path):
    """Range-partitioned shuffle (north rule): the plan carries
    rangepartitioning, and every output file's footer holds a disjoint
    cell range — the file-pruning contract for spatial range scans."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rlis2osm_spark.spatial.tiles import tile_cell

    pts = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 397.0) % 400000).alias("x"),
        ((F.col("id") * 683.0) % 400000).alias("y"))
    from rlis2osm_spark.spatial.tiles import TileGrid
    g = TileGrid(0.0, 0.0, 400000.0)
    tiled = pts.withColumn("cell", tile_cell(F.col("x"), F.col("y"), 8, g))

    plan = (tiled.repartitionByRange(8, F.col("cell"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "rangepartitioning" in plan.lower()

    out = str(tmp_path / "clustered")
    write_range_clustered(tiled, out, "cell", n_files=8)
    ranges = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(md.row_group(rg).column(i)
                       for i in range(md.num_columns)
                       if md.row_group(rg).column(i).path_in_schema == "cell")
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, contiguous key ranges per file
