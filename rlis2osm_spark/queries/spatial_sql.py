"""Spatial operators with exact DuckDB oracles (north-rule flagship path).

Coordinates are derived from integer keys with pure int arithmetic (exactly
representable as doubles), so cells, distances, and ranks are
bit-deterministic in both engines. The Spark side uses the *real* engine
primitives (with_cell / knn_join / within_distance_join /
point_in_polygon); the SQL side re-derives them independently
(shift-mask interleave, BETWEEN candidate bands, range CASE containment).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rlis2osm_spark.queries.util import load
from rlis2osm_spark.spatial.joins import (
    knn_join,
    point_in_polygon,
    within_distance_join,
)
from rlis2osm_spark.spatial.tiles import TileGrid, with_cell

GRID = TileGrid(0.0, 0.0, 400_000.0)
RES = 8  # 256x256 cells

# derived coordinates: x,y in [0, 400000) from integer keys
_AX, _AY = 2654435761, 2246822519
_EXT = 400_000


def _doc_points(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ((F.col("doc_id") * _AX) % _EXT).cast("double").alias("x"),
        ((F.col("doc_id") * _AY + 12345) % _EXT).cast("double").alias("y"),
    )


_DOC_POINTS_SQL = f"""
  SELECT doc_id,
         CAST((doc_id * {_AX}) % {_EXT} AS DOUBLE) AS x,
         CAST((doc_id * {_AY} + 12345) % {_EXT} AS DOUBLE) AS y
  FROM documents
"""


def _sql_spread(v: str) -> str:
    s = v
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                        (2, 0x33333333), (1, 0x55555555)):
        s = f"(({s} | ({s} << {shift})) & {mask})"
    return s


def _sql_cell(ix: str, iy: str) -> str:
    return f"({_sql_spread(ix)} | ({_sql_spread(iy)} << 1))"


def _sql_grid(c: str, res: int) -> str:
    n = 1 << res
    return (f"GREATEST(0, LEAST({n - 1}, "
            f"CAST(FLOOR({c} / {float(_EXT)} * {n}) AS BIGINT)))")


def s2_tile_assignment(spark, sf_dir):
    """Flagship: point -> Morton tile at RES, plus one parent level."""
    return with_cell(_doc_points(spark, sf_dir), RES, GRID).select(
        "doc_id", "ix", "iy", "cell",
        F.shiftright("cell", 2).alias("parent_cell"),
    )


_S2_SQL = f"""
WITH p AS ({_DOC_POINTS_SQL}),
g AS (
  SELECT doc_id, {_sql_grid('x', RES)} AS ix, {_sql_grid('y', RES)} AS iy FROM p
)
SELECT doc_id, ix, iy, {_sql_cell('ix', 'iy')} AS cell,
       {_sql_cell('ix', 'iy')} >> 2 AS parent_cell
FROM g
"""


def s3_tile_rollup(spark, sf_dir):
    """Per-cell doc counts + hierarchical parent rollup (partial agg map-side)."""
    t = s2_tile_assignment(spark, sf_dir)
    return (
        t.groupBy("parent_cell")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("cell").alias("n_child_cells"))
    )


_S3_SQL = f"""
WITH t AS ({_S2_SQL})
SELECT parent_cell, COUNT(*) AS n_docs, COUNT(DISTINCT cell) AS n_child_cells
FROM t GROUP BY parent_cell
"""


# districts for point-in-polygon: rectangles with off-lattice bounds so
# ray-cast and BETWEEN semantics cannot disagree on boundaries
DISTRICTS = [
    ("downtown", 50000.5, 50000.5, 150000.5, 150000.5),
    ("east", 150000.5, 20000.5, 350000.5, 200000.5),
    ("north", 20000.5, 200000.5, 250000.5, 390000.5),
    ("west", 0.5, 0.5, 50000.5, 200000.5),
]


def s4_point_in_polygon(spark, sf_dir):
    """PIP via the real ray-cast operator; districts are axis-aligned so the
    oracle is a first-match CASE of range predicates."""
    pts = _doc_points(spark, sf_dir)
    polys = [
        (name, [(x1, y1), (x2, y1), (x2, y2), (x1, y2)])
        for name, x1, y1, x2, y2 in DISTRICTS
    ]
    return point_in_polygon(pts, polys, out_col="district").select(
        "doc_id", "district")


_S4_SQL = f"""
WITH p AS ({_DOC_POINTS_SQL})
SELECT doc_id,
  CASE
    {" ".join(f"WHEN x > {x1} AND x < {x2} AND y > {y1} AND y < {y2} THEN '{n}'"
              for n, x1, y1, x2, y2 in DISTRICTS)}
  END AS district
FROM p
"""


def _part_points(spark, sf_dir):
    """Base points derived from part keys, as the degenerate segments
    (p_partkey, x1, y1, x2, y2) the ring-candidate joins take."""
    part = load(spark, sf_dir, "part")
    x = ((F.col("p_partkey") * 40503 + 7) % _EXT).cast("double")
    y = ((F.col("p_partkey") * 69069 + 11) % _EXT).cast("double")
    return part.select("p_partkey", x.alias("x1"), y.alias("y1"),
                       x.alias("x2"), y.alias("y2"))


def s5_knn_points(spark, sf_dir):
    """Bounded kNN: the 3 nearest part-derived base points of each of 60
    probe docs through the engine's ring kNN (``knn_join``), ranked by
    exact integer-squared distance."""
    probes = _doc_points(spark, sf_dir).filter(F.col("doc_id") < 60)
    return knn_join(probes, _part_points(spark, sf_dir), k=3, res=RES,
                    probe_id="doc_id", base_id="p_partkey", grid=GRID
                    ).select("doc_id", "p_partkey",
                             F.col("dist2").cast("long").alias("d2"),
                             "knn_rank")


_S5_SQL = f"""
WITH p AS (
  SELECT doc_id, x, y, {_sql_grid('x', RES)} AS pix, {_sql_grid('y', RES)} AS piy
  FROM ({_DOC_POINTS_SQL}) WHERE doc_id < 60
),
b AS (
  SELECT p_partkey,
         CAST((p_partkey * 40503 + 7) % {_EXT} AS DOUBLE) AS bx,
         CAST((p_partkey * 69069 + 11) % {_EXT} AS DOUBLE) AS by
  FROM part
),
bg AS (
  SELECT *, {_sql_grid('bx', RES)} AS bix, {_sql_grid('by', RES)} AS biy FROM b
),
cand AS (
  SELECT p.doc_id, bg.p_partkey,
         (p.x - bg.bx) * (p.x - bg.bx) + (p.y - bg.by) * (p.y - bg.by) AS d2
  FROM p JOIN bg
    ON bg.bix BETWEEN p.pix - 1 AND p.pix + 1
   AND bg.biy BETWEEN p.piy - 1 AND p.piy + 1
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d2 ASC, p_partkey ASC) AS knn_rank
  FROM cand
)
SELECT doc_id, p_partkey, CAST(d2 AS BIGINT) AS d2, knn_rank
FROM r WHERE knn_rank <= 3
"""


def s6_raster_vector(spark, sf_dir):
    """Raster<->vector tile join: synthetic elevation raster keyed by cell."""
    t = s2_tile_assignment(spark, sf_dir)
    raster = t.select("cell").distinct().select(
        "cell", ((F.col("cell") * 2654435761) % 1000).alias("elevation"))
    return (
        t.join(raster, "cell")
        .groupBy("elevation")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


_S6_SQL = f"""
WITH t AS ({_S2_SQL}),
raster AS (
  SELECT cell, (cell * 2654435761) % 1000 AS elevation
  FROM (SELECT DISTINCT cell FROM t)
)
SELECT elevation, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
FROM t JOIN raster USING (cell)
GROUP BY elevation
"""


QUERIES = {
    "s3_tile_rollup": s3_tile_rollup,
    "s4_point_in_polygon": s4_point_in_polygon,
    "s5_knn_points": s5_knn_points,
    "s6_raster_vector": s6_raster_vector,
}

ORACLES = {
    "s3_tile_rollup": _S3_SQL,
    "s4_point_in_polygon": _S4_SQL,
    "s5_knn_points": _S5_SQL,
    "s6_raster_vector": _S6_SQL,
}


def s7_polygon_join(spark, sf_dir):
    """Distributed point-in-polygon JOIN (spatial/joins.polygon_cell_join):
    polygon layer as a DataFrame, bbox-covering-cell candidates, generic
    ray-cast verify, min-id winner. Polygons here are axis-aligned squares
    derived from nation keys so the SQL oracle is a trivial containment
    test — while the Spark side still runs the generic ray-cast path."""
    from rlis2osm_spark.spatial.joins import polygon_cell_join

    pts = _doc_points(spark, sf_dir)
    nation = load(spark, sf_dir, "nation")
    # 25 squares tiling part of the extent, some overlapping
    sq = nation.select(
        F.concat(F.lit("poly"), F.format_string("%02d", "n_nationkey"))
        .alias("polygon_id"),
        ((F.col("n_nationkey") % 5) * 70000.0).alias("x0"),
        (F.expr("n_nationkey div 5") * 70000.0).alias("y0"),
    )
    polys = sq.select(
        "polygon_id",
        F.array(
            F.struct(F.col("x0").alias("x"), F.col("y0").alias("y")),
            F.struct((F.col("x0") + 90000.0).alias("x"), F.col("y0").alias("y")),
            F.struct((F.col("x0") + 90000.0).alias("x"),
                     (F.col("y0") + 90000.0).alias("y")),
            F.struct(F.col("x0").alias("x"), (F.col("y0") + 90000.0).alias("y")),
        ).alias("ring"),
    )
    out = polygon_cell_join(
        pts.filter(F.col("doc_id") < 2000), polys, res=5, grid=GRID,
        point_uid="doc_id")
    return out.select("doc_id", "polygon_id")


# Ray-cast semantics on an axis-aligned CCW square (verified empirically):
# the even-odd rule with the strict `px < xint` / `ey > py` tests includes
# the left and BOTTOM edges and excludes right and top — the half-open box
# [x0, x0+w) x [y0, y0+w). Oracle transcribes exactly that.
_S7_SQL = f"""
WITH pts AS ({_DOC_POINTS_SQL}),
sq AS (
  SELECT 'poly' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS polygon_id,
         (n_nationkey % 5) * 70000.0 AS x0,
         (n_nationkey // 5) * 70000.0 AS y0
  FROM nation
),
hit AS (
  SELECT p.doc_id, s.polygon_id
  FROM pts p JOIN sq s
    ON p.x >= s.x0 AND p.x < s.x0 + 90000.0
   AND p.y >= s.y0 AND p.y < s.y0 + 90000.0
  WHERE p.doc_id < 2000
)
SELECT p.doc_id, MIN(h.polygon_id) AS polygon_id
FROM (SELECT doc_id FROM pts WHERE doc_id < 2000) p
LEFT JOIN hit h ON p.doc_id = h.doc_id
GROUP BY p.doc_id
"""

QUERIES.update({"s7_polygon_join": s7_polygon_join})
ORACLES.update({"s7_polygon_join": _S7_SQL})


def s8_segment_intersection(spark, sf_dir):
    """Line-segment intersection join (street-crossing detection shape):
    bbox-cell candidates -> native orientation-test predicate -> pair
    dedup. Integer-valued coordinates make every cross product exact, so
    the brute-force SQL transcription is bit-identical; identical results
    prove the cell candidate generation loses no intersecting pair."""
    from rlis2osm_spark.spatial.joins import segment_intersection_join

    k = F.col("o_orderkey")
    left = load(spark, sf_dir, "orders").filter(k % 5 == 0).select(
        k.alias("lid"),
        ((k * 37) % 4000).cast("double").alias("lx1"),
        ((k * 53) % 4000).cast("double").alias("ly1"),
        ((k * 37) % 4000 + 20 + k % 30).cast("double").alias("lx2"),
        ((k * 53) % 4000 - 40 + (k * 3) % 80).cast("double").alias("ly2"),
    )
    p = F.col("p_partkey")
    right = load(spark, sf_dir, "part").select(
        p.alias("rid"),
        ((p * 41) % 4000).cast("double").alias("rx1"),
        ((p * 59) % 4000).cast("double").alias("ry1"),
        ((p * 41) % 4000 + 15 + p % 25).cast("double").alias("rx2"),
        ((p * 59) % 4000 + 35 - (p * 7) % 70).cast("double").alias("ry2"),
    )
    return segment_intersection_join(left, right, res=8, grid=GRID)


_S8_SQL = """
WITH l AS (
  SELECT o_orderkey AS lid,
         CAST((o_orderkey * 37) % 4000 AS DOUBLE) AS lx1,
         CAST((o_orderkey * 53) % 4000 AS DOUBLE) AS ly1,
         CAST((o_orderkey * 37) % 4000 + 20 + o_orderkey % 30 AS DOUBLE) AS lx2,
         CAST((o_orderkey * 53) % 4000 - 40 + (o_orderkey * 3) % 80 AS DOUBLE) AS ly2
  FROM orders WHERE o_orderkey % 5 = 0
),
r AS (
  SELECT p_partkey AS rid,
         CAST((p_partkey * 41) % 4000 AS DOUBLE) AS rx1,
         CAST((p_partkey * 59) % 4000 AS DOUBLE) AS ry1,
         CAST((p_partkey * 41) % 4000 + 15 + p_partkey % 25 AS DOUBLE) AS rx2,
         CAST((p_partkey * 59) % 4000 + 35 - (p_partkey * 7) % 70 AS DOUBLE) AS ry2
  FROM part
),
o AS (
  SELECT lid, rid,
    sign((lx2-lx1)*(ry1-ly1) - (ly2-ly1)*(rx1-lx1)) AS o1,
    sign((lx2-lx1)*(ry2-ly1) - (ly2-ly1)*(rx2-lx1)) AS o2,
    sign((rx2-rx1)*(ly1-ry1) - (ry2-ry1)*(lx1-rx1)) AS o3,
    sign((rx2-rx1)*(ly2-ry1) - (ry2-ry1)*(lx2-rx1)) AS o4,
    lx1, ly1, lx2, ly2, rx1, ry1, rx2, ry2
  FROM l, r
)
SELECT lid, rid FROM o
WHERE (o1 * o2 < 0 AND o3 * o4 < 0)
   OR (o1 = 0 AND rx1 BETWEEN LEAST(lx1,lx2) AND GREATEST(lx1,lx2)
              AND ry1 BETWEEN LEAST(ly1,ly2) AND GREATEST(ly1,ly2))
   OR (o2 = 0 AND rx2 BETWEEN LEAST(lx1,lx2) AND GREATEST(lx1,lx2)
              AND ry2 BETWEEN LEAST(ly1,ly2) AND GREATEST(ly1,ly2))
   OR (o3 = 0 AND lx1 BETWEEN LEAST(rx1,rx2) AND GREATEST(rx1,rx2)
              AND ly1 BETWEEN LEAST(ry1,ry2) AND GREATEST(ry1,ry2))
   OR (o4 = 0 AND lx2 BETWEEN LEAST(rx1,rx2) AND GREATEST(rx1,rx2)
              AND ly2 BETWEEN LEAST(ry1,ry2) AND GREATEST(ry1,ry2))
"""




def s9_within_distance(spark, sf_dir):
    """Radius search join: all document points within 5000 ft of derived
    street segments — ring-cell candidates + native exact point-to-segment
    distance, no window. (The multiplicative-congruence point/segment
    lattices are anti-correlated — min pair distance ~4000 ft — so the
    radius sits just above it for a non-trivial result set.) Integer-derived
    coordinates keep the distance arithmetic bit-identical across engines;
    the oracle brute-forces all pairs, so equality also proves ring-candidate
    completeness."""
    pts = _doc_points(spark, sf_dir).filter(F.col("doc_id") < 1500).select(
        F.col("doc_id").alias("pid"), "x", "y")
    p = F.col("p_partkey")
    segs = load(spark, sf_dir, "part").select(
        p.alias("sid"),
        ((p * 61) % 400000).cast("double").alias("x1"),
        ((p * 83) % 400000).cast("double").alias("y1"),
        ((p * 61) % 400000 + 400).cast("double").alias("x2"),
        ((p * 83) % 400000 + 300 - (p % 7) * 100).cast("double").alias("y2"),
    )
    out = within_distance_join(pts, segs, radius=5000.0, res=6, grid=GRID,
                               probe_id="pid", base_id="sid")
    return out.select("pid", "sid")  # dist2 exact but float -> ids only


_S9_SQL = f"""
WITH pts AS (
  SELECT doc_id AS pid, x, y FROM ({_DOC_POINTS_SQL}) WHERE doc_id < 1500
),
segs AS (
  SELECT p_partkey AS sid,
         CAST((p_partkey * 61) % 400000 AS DOUBLE) AS x1,
         CAST((p_partkey * 83) % 400000 AS DOUBLE) AS y1,
         CAST((p_partkey * 61) % 400000 + 400 AS DOUBLE) AS x2,
         CAST((p_partkey * 83) % 400000 + 300 - (p_partkey % 7) * 100 AS DOUBLE) AS y2
  FROM part
),
d AS (
  SELECT pid, sid,
    ((x - (x1 + GREATEST(0.0, LEAST(1.0,
        ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1))
        / (CASE WHEN (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) = 0 THEN 1.0
                ELSE (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) END))) * (x2 - x1)))
     * (x - (x1 + GREATEST(0.0, LEAST(1.0,
        ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1))
        / (CASE WHEN (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) = 0 THEN 1.0
                ELSE (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) END))) * (x2 - x1))))
    +
    ((y - (y1 + GREATEST(0.0, LEAST(1.0,
        ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1))
        / (CASE WHEN (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) = 0 THEN 1.0
                ELSE (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) END))) * (y2 - y1)))
     * (y - (y1 + GREATEST(0.0, LEAST(1.0,
        ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1))
        / (CASE WHEN (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) = 0 THEN 1.0
                ELSE (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) END))) * (y2 - y1))))
    AS dist2
  FROM pts, segs
)
SELECT pid, sid FROM d WHERE dist2 <= 25000000.0
"""  # noqa: E501

def s8_proximity_joins(spark, sf_dir):
    """Both spatial pair-join shapes in one tagged output (r3 merge of
    ``s8_segment_intersection`` + ``s9_within_distance``): segment-segment
    intersection pairs and point-to-segment radius pairs, each via cell
    candidates + exact native predicates; identical results vs the
    brute-force oracles prove candidate completeness for both."""
    inter = s8_segment_intersection(spark, sf_dir).select(
        F.lit("intersect").alias("kind"),
        F.col("lid").alias("a"), F.col("rid").alias("b"))
    radius = s9_within_distance(spark, sf_dir).select(
        F.lit("radius").alias("kind"),
        F.col("pid").alias("a"), F.col("sid").alias("b"))
    return inter.unionByName(radius)


_S8S9_SQL = f"""
SELECT 'intersect' AS kind, lid AS a, rid AS b FROM ({_S8_SQL})
UNION ALL
SELECT 'radius' AS kind, pid AS a, sid AS b FROM ({_S9_SQL})
"""

QUERIES.update({"s8_proximity_joins": s8_proximity_joins})
ORACLES.update({"s8_proximity_joins": _S8S9_SQL})
