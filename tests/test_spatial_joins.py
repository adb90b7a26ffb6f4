"""Spatial join tests: PIP ray casting, kNN with exact distances."""

import math

from pyspark.sql import functions as F

from rlis2osm_spark.spatial.joins import (
    knn_join,
    point_in_polygon,
    point_segment_dist2,
)
from rlis2osm_spark.spatial.tiles import TileGrid


def test_point_in_polygon_triangle(spark):
    tri = [("tri", [(0.0, 0.0), (10.0, 0.0), (5.0, 10.0)])]
    pts = spark.createDataFrame(
        [("in", 5.0, 3.0), ("out", 0.5, 9.0), ("far", 100.0, 100.0)],
        "id string, x double, y double")
    out = {r.id: r.polygon_id for r in point_in_polygon(pts, tri).collect()}
    assert out == {"in": "tri", "out": None, "far": None}


def test_point_in_polygon_first_match_and_hole_free(spark):
    polys = [
        ("a", [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]),
        ("b", [(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)]),
    ]
    pts = spark.createDataFrame(
        [("overlap", 7.0, 7.0), ("only_b", 12.0, 12.0)],
        "id string, x double, y double")
    out = {r.id: r.polygon_id for r in point_in_polygon(pts, polys).collect()}
    assert out == {"overlap": "a", "only_b": "b"}  # first containing wins


def test_point_segment_dist2(spark):
    df = spark.createDataFrame([(0.0, 5.0, -10.0, 0.0, 10.0, 0.0),
                                (20.0, 0.0, -10.0, 0.0, 10.0, 0.0)],
                               "px double, py double, x1 double, y1 double, "
                               "x2 double, y2 double")
    out = df.select(point_segment_dist2(
        F.col("px"), F.col("py"), F.col("x1"), F.col("y1"),
        F.col("x2"), F.col("y2")).alias("d2")).collect()
    assert out[0].d2 == 25.0  # perpendicular to interior
    assert out[1].d2 == 100.0  # clamped to endpoint


def test_knn_join_exact(spark):
    grid = TileGrid(0.0, 0.0, 1024.0)
    # probe at center; 5 horizontal street segments at increasing distance
    probe = spark.createDataFrame([("t1", 512.0, 512.0)],
                                  "trail_id string, x double, y double")
    base_rows = [(f"s{i}", 500.0, 512.0 + 3.0 * (i + 1), 524.0, 512.0 + 3.0 * (i + 1))
                 for i in range(5)]
    base = spark.createDataFrame(
        base_rows, "street_id string, x1 double, y1 double, x2 double, y2 double")
    out = knn_join(probe, base, k=3, res=6, probe_id="trail_id",
                   base_id="street_id", grid=grid).orderBy("knn_rank").collect()
    assert [r.street_id for r in out] == ["s0", "s1", "s2"]
    assert [math.sqrt(r.dist2) for r in out] == [3.0, 6.0, 9.0]


def test_knn_ring_candidates_cross_cells(spark):
    grid = TileGrid(0.0, 0.0, 64.0)  # res 3 -> 8x8 grid of 8-unit cells
    probe = spark.createDataFrame([("p", 8.1, 8.1)],
                                  "pid string, x double, y double")
    # nearest segment lives in the neighboring cell to the west
    base = spark.createDataFrame([("w", 6.0, 8.0, 7.0, 8.0),
                                  ("far", 40.0, 40.0, 41.0, 40.0)],
                                 "bid string, x1 double, y1 double, "
                                 "x2 double, y2 double")
    out = knn_join(probe, base, k=1, res=3, probe_id="pid", base_id="bid",
                   grid=grid).collect()
    assert [r.bid for r in out] == ["w"]


def test_knn_salted_matches_unsalted(spark):
    """Explicit skew salting on the candidate join changes the shuffle
    layout, never the result."""
    grid = TileGrid(0.0, 0.0, 1024.0)
    import numpy as np

    rng = np.random.RandomState(5)
    probe = spark.createDataFrame(
        [(f"p{i}", float(x), float(y))
         for i, (x, y) in enumerate(rng.randint(0, 1024, size=(40, 2)))],
        "pid string, x double, y double")
    base = spark.createDataFrame(
        [(f"b{i}", float(x), float(y), float(x) + 5.0, float(y))
         for i, (x, y) in enumerate(rng.randint(0, 1019, size=(60, 2)))],
        "bid string, x1 double, y1 double, x2 double, y2 double")
    plain = knn_join(probe, base, k=2, res=4, probe_id="pid", base_id="bid",
                     grid=grid)
    salted = knn_join(probe, base, k=2, res=4, probe_id="pid", base_id="bid",
                      grid=grid, n_salts=4)
    a = sorted((r.pid, r.bid, r.knn_rank) for r in plain.collect())
    b = sorted((r.pid, r.bid, r.knn_rank) for r in salted.collect())
    assert a == b
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan


def test_polygon_cell_join_matches_broadcast_pip(spark):
    """The distributed polygon JOIN (cell candidates + per-candidate ray
    cast) assigns exactly what the broadcast-list PIP assigns, with the
    deterministic min-id winner on overlaps."""
    from pyspark.sql import functions as F

    from rlis2osm_spark.spatial.joins import (
        point_in_polygon, polygon_cell_join)
    from rlis2osm_spark.spatial.tiles import TileGrid

    grid = TileGrid()
    x0, y0 = grid.x0, grid.y0
    # two overlapping squares + one far square
    polys = [
        ("p1", [(x0 + 1000, y0 + 1000), (x0 + 6000, y0 + 1000),
                (x0 + 6000, y0 + 6000), (x0 + 1000, y0 + 6000)]),
        ("p2", [(x0 + 4000, y0 + 4000), (x0 + 9000, y0 + 4000),
                (x0 + 9000, y0 + 9000), (x0 + 4000, y0 + 9000)]),
        ("p3", [(x0 + 50000, y0 + 50000), (x0 + 51000, y0 + 50000),
                (x0 + 51000, y0 + 51000), (x0 + 50000, y0 + 51000)]),
    ]
    pts = spark.createDataFrame(
        [(i, x0 + (i * 397.0) % 12000, y0 + (i * 683.0) % 12000)
         for i in range(400)],
        "pid long, x double, y double")

    # broadcast-list variant, polygons in id order (same winner rule)
    want = {r.pid: r.polygon_id
            for r in point_in_polygon(pts, polys).collect()}

    poly_rows = [
        (pid, [{"x": float(x), "y": float(y)} for x, y in ring])
        for pid, ring in polys
    ]
    pdf = spark.createDataFrame(
        poly_rows, "polygon_id string, ring array<struct<x double, y double>>")
    got = {r.pid: r.polygon_id
           for r in polygon_cell_join(pts, pdf, res=8, grid=grid,
                                      point_uid="pid").collect()}
    assert got == want
    assert set(filter(None, got.values())) == {"p1", "p2"}
    assert any(v is None for v in got.values())  # some points in none


def test_polygon_cell_join_cell_explosion_guard(spark):
    """A polygon covering more cells than MAX_CELLS_PER_POLYGON must fail
    loudly (the 100 TB silent-blowup mode), with the offending polygon
    id: the whole extent at res 10 covers 1025^2 cells."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from rlis2osm_spark.spatial.joins import polygon_cell_join
    from rlis2osm_spark.spatial.tiles import TileGrid

    g = TileGrid()
    pts = spark.createDataFrame(
        [(0, g.x0 + 10.0, g.y0 + 10.0)], "pid long, x double, y double")
    giant = spark.createDataFrame(
        [("pg", [{"x": g.x0, "y": g.y0},
                 {"x": g.x0 + g.extent, "y": g.y0},
                 {"x": g.x0 + g.extent, "y": g.y0 + g.extent},
                 {"x": g.x0, "y": g.y0 + g.extent}])],
        "polygon_id string, ring array<struct<x double, y double>>")
    with pytest.raises(SparkRuntimeException,
                       match="MAX_CELLS_PER_POLYGON=100000 at res=10: pg"):
        polygon_cell_join(pts, giant, res=10, grid=g,
                          point_uid="pid").collect()
    # a coarse res stays under the cap
    out = polygon_cell_join(pts, giant, res=4, grid=g,
                            point_uid="pid").collect()
    assert out[0].polygon_id == "pg"


def test_segment_intersection_topologies(spark):
    """Known topologies: crossing, endpoint touch, collinear overlap,
    collinear disjoint, parallel, far apart."""
    from rlis2osm_spark.spatial.joins import segment_intersection_join
    from rlis2osm_spark.spatial.tiles import TileGrid

    g = TileGrid(0.0, 0.0, 400_000.0)
    left = spark.createDataFrame([
        (1, 0.0, 0.0, 10.0, 10.0),     # crosses r1
        (2, 20.0, 0.0, 30.0, 0.0),     # touches r2 at (30, 0)
        (3, 40.0, 0.0, 50.0, 0.0),     # collinear-overlaps r3
        (4, 60.0, 0.0, 70.0, 0.0),     # collinear-disjoint from r4
        (5, 80.0, 0.0, 90.0, 0.0),     # parallel to r5, offset
        (6, 0.0, 1000.0, 10.0, 1000.0),  # far from everything
    ], "lid long, lx1 double, ly1 double, lx2 double, ly2 double")
    right = spark.createDataFrame([
        (1, 0.0, 10.0, 10.0, 0.0),
        (2, 30.0, 0.0, 35.0, 5.0),
        (3, 45.0, 0.0, 55.0, 0.0),
        (4, 71.0, 0.0, 75.0, 0.0),
        (5, 80.0, 1.0, 90.0, 1.0),
    ], "rid long, rx1 double, ry1 double, rx2 double, ry2 double")
    got = {(r.lid, r.rid)
           for r in segment_intersection_join(left, right, res=12, grid=g).collect()}
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_within_distance_join_radius_guard(spark):
    """radius > cell size must fail loudly (ring candidates incomplete)."""
    from rlis2osm_spark.spatial.joins import within_distance_join
    from rlis2osm_spark.spatial.tiles import TileGrid

    g = TileGrid(0.0, 0.0, 400_000.0)
    pts = spark.createDataFrame([(1, 10.0, 10.0)], "pid long, x double, y double")
    segs = spark.createDataFrame(
        [(1, 0.0, 0.0, 5.0, 5.0)],
        "sid long, x1 double, y1 double, x2 double, y2 double")
    import pytest
    with pytest.raises(ValueError, match="cell size"):
        within_distance_join(pts, segs, radius=50_000.0, res=8, grid=g,
                             probe_id="pid", base_id="sid")
    out = within_distance_join(pts, segs, radius=100.0, res=8, grid=g,
                               probe_id="pid", base_id="sid").collect()
    assert [(r.pid, r.sid) for r in out] == [(1, 1)]


def test_long_segment_ring_completeness(spark):
    """Review regression: a LONG segment whose midpoint cell sits outside
    the probe ring must still be found (bbox-covering-cell keying)."""
    from rlis2osm_spark.spatial.joins import knn_join, within_distance_join
    from rlis2osm_spark.spatial.tiles import TileGrid

    g = TileGrid(0.0, 0.0, 400_000.0)  # res 8 -> cell 1562.5
    pts = spark.createDataFrame(
        [(1, 4400.0, 100.0)], "pid long, x double, y double")
    segs = spark.createDataFrame(
        [(7, 0.0, 100.0, 3000.0, 100.0)],  # midpoint cell 0, probe cell 2
        "sid long, x1 double, y1 double, x2 double, y2 double")
    wd = within_distance_join(pts, segs, radius=1500.0, res=8, grid=g,
                              probe_id="pid", base_id="sid").collect()
    assert [(r.pid, r.sid) for r in wd] == [(1, 7)]  # true distance 1400
    nn = knn_join(pts, segs, k=1, res=8, probe_id="pid", base_id="sid",
                  grid=g).collect()
    assert nn and nn[0].sid == 7 and abs(nn[0].dist2 - 1400.0 ** 2) < 1e-6


def test_polygon_cell_join_preserves_duplicates_and_guards_names(spark):
    """ADVICE r2: duplicate input points with distinct ``point_uid`` keys
    must survive the regroup (row count preserved), any column type rides
    along, and a reserved-name clash or a missing key fails loudly."""
    import pytest
    from pyspark.sql import functions as F

    from rlis2osm_spark.spatial.joins import polygon_cell_join
    from rlis2osm_spark.spatial.tiles import TileGrid

    g = TileGrid(0.0, 0.0, 400_000.0)
    ring = [{"x": 0.0, "y": 0.0}, {"x": 10_000.0, "y": 0.0},
            {"x": 10_000.0, "y": 10_000.0}, {"x": 0.0, "y": 10_000.0}]
    polys = spark.createDataFrame(
        [(1, ring)], "polygon_id long, ring array<struct<x:double,y:double>>")
    pts = spark.createDataFrame(
        [(1, 7, 5_000.0, 5_000.0), (2, 7, 5_000.0, 5_000.0),  # duplicates
         (3, 8, 50_000.0, 50_000.0)],
        "uid long, pid long, x double, y double")
    out = polygon_cell_join(pts, polys, res=6, grid=g,
                            point_uid="uid").collect()
    assert len(out) == 3  # both duplicate rows kept
    assert sorted((r.pid, r.polygon_id) for r in out) == [
        (7, 1), (7, 1), (8, None)]

    clash = pts.withColumnRenamed("pid", "polygon_id")
    with pytest.raises(ValueError, match="reserved"):
        polygon_cell_join(clash, polys, res=6, grid=g, point_uid="uid")
    with pytest.raises(ValueError, match="not in points"):
        polygon_cell_join(pts, polys, res=6, grid=g, point_uid="id")

    # map-typed payload columns pass through untouched
    meta = pts.withColumn(
        "meta", F.struct(F.create_map(F.lit("k"), F.lit("v")).alias("m")))
    out2 = polygon_cell_join(meta, polys, res=6, grid=g,
                             point_uid="uid").collect()
    assert sorted((r.uid, r.polygon_id, r.meta.m["k"]) for r in out2) == [
        (1, 1, "v"), (2, 1, "v"), (3, None, "v")]
