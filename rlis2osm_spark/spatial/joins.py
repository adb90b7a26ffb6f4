"""Spatial joins over the tile index: point-in-polygon and kNN matching
(north-rule operators; SURVEY §2.4 "joins absent from the reference but
mandated"). A raster<->vector join is a plain equi-join on the Morton
``cell`` (the s6_raster_vector query).

Design rules:
- candidate generation is always a **cell equi-join** (shuffle on the Morton
  cell — or broadcast when one side is a dimension), so the expensive exact
  predicate runs on a tiny candidate set;
- exact geometry math (point-to-segment distance) is **native column
  arithmetic**, not Python;
- the only Arrow step is polygon ray-casting (vectorized numpy over the
  broadcast polygon set) — and it only sees bbox-prefiltered candidates.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import StringType

from rlis2osm_spark.spatial.tiles import (
    TileGrid,
    explode_ring_coords,
    grid_coords,
)

# covering cells one polygon may explode into before polygon_cell_join fails
MAX_CELLS_PER_POLYGON = 100_000


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------

def _ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: points (n,) vs one ring (m, 2)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(len(px), dtype=bool)
    for ex1, ey1, ex2, ey2 in zip(x1, y1, x2, y2):
        crosses = (ey1 > py) != (ey2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ex1 + (py - ey1) * (ex2 - ex1) / (ey2 - ey1)
        inside ^= crosses & (px < xint)
    return inside


def point_in_polygon(
    points: DataFrame,
    polygons: list[tuple[str, list[tuple[float, float]]]],
    out_col: str = "polygon_id",
) -> DataFrame:
    """Tag each (x, y) point with the first containing polygon's id (null
    if none).

    ``polygons`` is a small driver-side set (e.g. metro boundary districts) —
    it ships in the UDF closure (auto-broadcast). A native bbox prefilter
    keeps the Arrow ray-cast off points that can't match any polygon.
    """
    rings = [(pid, np.asarray(ring, dtype=float)) for pid, ring in polygons]
    # close rings
    rings = [
        (pid, r if (r[0] == r[-1]).all() else np.vstack([r, r[:1]]))
        for pid, r in rings
    ]

    @arrow_udf(StringType())
    def pip_udf(xs: pa.Array, ys: pa.Array) -> pa.Array:
        px = xs.to_numpy(zero_copy_only=False)
        py = ys.to_numpy(zero_copy_only=False)
        out = np.full(len(px), None, dtype=object)
        unassigned = np.ones(len(px), dtype=bool)
        for pid, ring in rings:
            if not unassigned.any():
                break
            hit = unassigned & _ray_cast(px, py, ring)
            out[hit] = pid
            unassigned &= ~hit
        return pa.array(out, pa.string())

    # native bbox prefilter over the union of polygon bboxes
    xs_min = min(r[:, 0].min() for _, r in rings)
    xs_max = max(r[:, 0].max() for _, r in rings)
    ys_min = min(r[:, 1].min() for _, r in rings)
    ys_max = max(r[:, 1].max() for _, r in rings)
    x, y = F.col("x"), F.col("y")
    in_bbox = (x >= xs_min) & (x <= xs_max) & (y >= ys_min) & (y <= ys_max)
    return points.withColumn(out_col, F.when(in_bbox, pip_udf(x, y)))


# ---------------------------------------------------------------------------
# ring-candidate kNN and radius joins
# ---------------------------------------------------------------------------

def point_segment_dist2(px: Column, py: Column, x1: Column, y1: Column,
                        x2: Column, y2: Column) -> Column:
    """Squared point-to-segment distance — pure native arithmetic."""
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    t_raw = ((px - x1) * dx + (py - y1) * dy) / F.when(len2 == 0, 1.0).otherwise(len2)
    t = F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))
    cx = x1 + t * dx
    cy = y1 + t * dy
    return (px - cx) * (px - cx) + (py - cy) * (py - cy)


def _ring_candidates(
    probe: DataFrame,
    base: DataFrame,
    res: int,
    grid: TileGrid,
    probe_id: str,
    n_salts: int = 1,
) -> DataFrame:
    """Every (probe point, base segment) pair that meets in the probe
    cell's 3x3 ring, with the exact squared distance ``dist2``: the one
    candidate generator of the kNN and radius joins.

    probe: (probe_id, x, y, ...); base: (x1, y1, x2, y2, ...), a point being
    the degenerate segment x1 == x2, y1 == y2. Other columns pass through.
    The base is keyed by its bbox-COVERING cells, not the midpoint: a long
    segment's midpoint cell can sit outside the probe ring even when the
    segment passes nearby, and covering cells make ring candidacy
    independent of segment length. A segment that covers 2+ ring cells
    yields one row per cell, so callers that need one row per pair dedup.
    Which side broadcasts is the planner's choice from the inputs' sizes.
    """
    based = _segment_cells(base, res, grid, prefix="")
    pix, piy = grid_coords(F.col("x"), F.col("y"), res, grid)
    probed = explode_ring_coords(probe, pix, piy)

    join_keys = ["cx", "cy"]
    if n_salts > 1:
        # explicit skew salting for a shuffle-side candidate join
        # (hot downtown cells): replicate the base across n_salts shuffle
        # keys, give each probe one deterministic salt — same candidate
        # set, n_salts-way fan-out of the hottest reducer.
        based = based.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        probed = probed.withColumn(
            "salt", F.pmod(F.xxhash64(F.col(probe_id)), F.lit(n_salts)))
        join_keys = ["cx", "cy", "salt"]

    d2 = point_segment_dist2(
        F.col("x"), F.col("y"),
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
    )
    return probed.join(based, join_keys).withColumn("dist2", d2)


def knn_join(
    probe: DataFrame,
    base: DataFrame,
    k: int,
    res: int,
    probe_id: str,
    base_id: str,
    grid: TileGrid = TileGrid(),
    n_salts: int = 1,
) -> DataFrame:
    """k nearest base segments for each probe point, within the probe cell's
    3x3 ring (bounded kNN — choose ``res`` so a cell comfortably exceeds the
    expected nearest-neighbor distance).

    probe: (probe_id, x, y); base: (base_id, x1, y1, x2, y2).
    Plan: ``_ring_candidates`` -> per-probe window top-k -> dedup.
    The window partitions by probe_id (uniform), so the skewed side is the
    candidate join — AQE skew-split applies.

    A segment reachable via 2+ ring cells is a candidate more than once.
    Ranking comes first: the copies of a pair tie on (dist2, base_id), so
    ``dense_rank`` gives them one rank, the rank each pair would get after
    a dedup, and only the top-k survivors are deduplicated. The dedup's
    (probe_id, base_id) clustering is met by the window's probe_id
    exchange, so the plan holds ONE exchange (VERDICT r1 #7; asserted in
    tests/test_plans.py).
    """
    cands = _ring_candidates(probe.select(probe_id, "x", "y"), base, res,
                             grid, probe_id, n_salts)
    w = Window.partitionBy(probe_id).orderBy(
        F.asc("dist2"), F.asc(base_id)  # deterministic tie-break
    )
    return (
        cands.withColumn("knn_rank", F.dense_rank().over(w))
        .filter(F.col("knn_rank") <= k)
        .dropDuplicates([probe_id, base_id])
    )


def polygon_cell_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    grid: TileGrid,
    point_uid: str,
) -> DataFrame:
    """Distributed point-in-polygon JOIN — the scale path when the polygon
    layer is itself a big DataFrame (``point_in_polygon`` takes a small
    driver-side list and broadcasts it in the UDF closure).

    points: (x, y, ...) with ``point_uid`` a unique key column — the final
    regroup is on it, so duplicate points with distinct keys stay distinct.
    polygons: (polygon_id, ring array<struct<x double, y double>>).
    Plan: native per-polygon bbox -> explode the covering cell rectangle at
    ``res`` -> cell equi-join against tiled points (the only shuffle) ->
    exact ray-cast verify on the candidate set only (Arrow batch) ->
    deterministic winner = min polygon_id. Points in no polygon keep null.
    Choose ``res`` so a typical polygon covers O(1..100) cells; hot cells
    (a metro-wide polygon) follow the same salting/AQE story as the kNN.
    """
    from pyspark.sql.types import BooleanType

    size = grid.cell_size(res)
    xs = F.transform(F.col("ring"), lambda p: p["x"])
    ys = F.transform(F.col("ring"), lambda p: p["y"])
    ix0 = F.floor((F.array_min(xs) - grid.x0) / size).cast("int")
    ix1 = F.floor((F.array_max(xs) - grid.x0) / size).cast("int")
    iy0 = F.floor((F.array_min(ys) - grid.y0) / size).cast("int")
    iy1 = F.floor((F.array_max(ys) - grid.y0) / size).cast("int")
    # loud guard: a continent-sized polygon at fine res would explode into
    # millions of covering cells (the silent-blowup failure mode at 100 TB);
    # fail with the offending id instead — the fix is a coarser res for the
    # big-polygon stratum, not a bigger cluster. The check lives INSIDE the
    # exploded expression so plan pruning can't skip it (same lazy-engine
    # caveat as the strict TYPE->highway lookup).
    n_cells = (ix1 - ix0 + 1).cast("long") * (iy1 - iy0 + 1).cast("long")
    ix0 = F.when(
        n_cells > MAX_CELLS_PER_POLYGON,
        F.raise_error(F.concat(
            F.lit(f"polygon exceeds MAX_CELLS_PER_POLYGON="
                  f"{MAX_CELLS_PER_POLYGON} at res={res}: "),
            F.col("polygon_id"))).cast("int"),
    ).otherwise(ix0)
    cells = (
        polygons.select("polygon_id", "ring",
                        F.explode(F.sequence(ix0, ix1)).alias("cx"),
                        iy0.alias("_iy0"), iy1.alias("_iy1"))
        .select("polygon_id", "ring", "cx",
                F.explode(F.sequence("_iy0", "_iy1")).alias("cy"))
    )

    pt_cols = list(points.columns)
    if point_uid not in pt_cols:
        raise ValueError(f"point_uid column {point_uid!r} not in points")
    clash = {"polygon_id", "ring", "cx", "cy", "_in"} & set(pt_cols)
    if clash:
        raise ValueError(
            f"points columns {sorted(clash)} collide with reserved names; "
            "rename them before polygon_cell_join")
    pix, piy = grid_coords(F.col("x"), F.col("y"), res, grid)
    pts = points.withColumns({"cx": pix, "cy": piy})

    @arrow_udf(BooleanType())
    def inside(xs_s: pa.Array, ys_s: pa.Array, rings: pa.Array) -> pa.Array:
        out = []
        for x, y, ring in zip(xs_s.to_numpy(zero_copy_only=False),
                              ys_s.to_numpy(zero_copy_only=False),
                              rings.to_pylist()):
            if ring is None:  # unmatched left-join row (no candidate cell)
                out.append(False)
                continue
            r = np.array([[p["x"], p["y"]] for p in ring], dtype=float)
            if not (r[0] == r[-1]).all():
                r = np.vstack([r, r[:1]])
            out.append(bool(_ray_cast(np.array([x]), np.array([y]), r)[0]))
        return pa.array(out, pa.bool_())

    cands = pts.join(cells, ["cx", "cy"], "left")
    hits = cands.withColumn(
        "_in", inside(F.col("x"), F.col("y"), F.col("ring")))
    return (
        hits.groupBy(point_uid)
        .agg(*[F.first(c).alias(c) for c in pt_cols if c != point_uid],
             F.min(F.when(F.col("_in"), F.col("polygon_id")))
             .alias("polygon_id"))
        .select(*pt_cols, "polygon_id")
    )


def _orient(px, py, qx, qy, rx, ry) -> Column:
    """Sign of the cross product (q-p) x (r-p): +1 ccw, -1 cw, 0 collinear."""
    return F.signum((qx - px) * (ry - py) - (qy - py) * (rx - px))


def segments_intersect(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> Column:
    """Exact segment-segment intersection predicate — pure native column
    arithmetic (orientation tests + collinear on-segment checks), endpoint
    touching counts. With integer-valued coordinates the products are exact
    doubles, so the predicate is engine-portable bit-for-bit."""
    o1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = _orient(bx1, by1, bx2, by2, ax2, ay2)

    def onseg(px, py, qx, qy, rx, ry, o):
        return (
            (o == 0)
            & (rx >= F.least(px, qx)) & (rx <= F.greatest(px, qx))
            & (ry >= F.least(py, qy)) & (ry <= F.greatest(py, qy))
        )

    general = (o1 * o2 < 0) & (o3 * o4 < 0)
    return (
        general
        | onseg(ax1, ay1, ax2, ay2, bx1, by1, o1)
        | onseg(ax1, ay1, ax2, ay2, bx2, by2, o2)
        | onseg(bx1, by1, bx2, by2, ax1, ay1, o3)
        | onseg(bx1, by1, bx2, by2, ax2, ay2, o4)
    )


def _segment_cells(df: DataFrame, res: int, grid: TileGrid,
                   prefix: str) -> DataFrame:
    """Explode a segment frame into its bbox-covering (cx, cy) cells."""
    size = grid.cell_size(res)
    x1, y1 = F.col(f"{prefix}x1"), F.col(f"{prefix}y1")
    x2, y2 = F.col(f"{prefix}x2"), F.col(f"{prefix}y2")
    ix0 = F.floor((F.least(x1, x2) - grid.x0) / size).cast("long")
    ix1 = F.floor((F.greatest(x1, x2) - grid.x0) / size).cast("long")
    iy0 = F.floor((F.least(y1, y2) - grid.y0) / size).cast("long")
    iy1 = F.floor((F.greatest(y1, y2) - grid.y0) / size).cast("long")
    return (
        df.select("*", F.explode(F.sequence(ix0, ix1)).alias("cx"),
                  iy0.alias("_iy0"), iy1.alias("_iy1"))
        .select("*", F.explode(F.sequence("_iy0", "_iy1")).alias("cy"))
        .drop("_iy0", "_iy1")
    )


def segment_intersection_join(
    left: DataFrame,
    right: DataFrame,
    res: int,
    grid: TileGrid,
) -> DataFrame:
    """Line-segment intersection join (e.g. street x street crossing
    detection): bbox-cell candidates -> one equi-join on (cx, cy) ->
    native exact predicate -> pair dedup on a single left-keyed exchange.

    left: (lid, lx1, ly1, lx2, ly2); right: (rid, rx1..ry2).
    Choose ``res`` near the typical segment length so a segment covers
    O(1..4) cells."""
    lc = _segment_cells(left, res, grid, "l")
    rc = _segment_cells(right, res, grid, "r")
    cands = lc.join(rc, ["cx", "cy"])
    hit = cands.filter(segments_intersect(
        F.col("lx1"), F.col("ly1"), F.col("lx2"), F.col("ly2"),
        F.col("rx1"), F.col("ry1"), F.col("rx2"), F.col("ry2")))
    return (
        hit.select("lid", "rid")
        .repartition(F.col("lid"))  # one exchange serves the dedup
        .dropDuplicates(["lid", "rid"])
    )


def within_distance_join(
    probe: DataFrame,
    base: DataFrame,
    radius: float,
    res: int,
    probe_id: str,
    base_id: str,
    grid: TileGrid = TileGrid(),
) -> DataFrame:
    """Radius search: every (probe, base-segment) pair within ``radius``.

    Same candidates as ``knn_join`` (``_ring_candidates``) but with a
    distance predicate instead of a ranking window — so it needs NO window
    at all: candidates -> filter -> one probe-keyed exchange for the pair
    dedup. ``res`` must be chosen so the cell size is >= radius (ring
    completeness — with covering-cell keying this is sufficient for ANY
    segment length: the nearest segment point within radius lies in a
    covering cell at most one cell away); violating it raises.
    """
    size = grid.cell_size(res)
    if radius > size:
        raise ValueError(
            f"radius {radius} exceeds cell size {size} at res={res}; "
            "use a coarser res (ring candidates would miss pairs)")
    cands = _ring_candidates(probe.select(probe_id, "x", "y"), base, res,
                             grid, probe_id)
    return (
        cands.filter(F.col("dist2") <= radius * radius)
        .select(probe_id, base_id, "dist2")
        .repartition(F.col(probe_id))
        .dropDuplicates([probe_id, base_id])
    )
