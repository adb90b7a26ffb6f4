"""Spatial joins over the tile index: cell equi-join, point-in-polygon,
kNN matching, raster<->vector join (north-rule operators; SURVEY §2.4 "joins
absent from the reference but mandated").

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
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from rlis2osm_spark.spatial.tiles import (
    TileGrid,
    explode_ring_coords,
    grid_coords,
)


# ---------------------------------------------------------------------------
# raster<->vector (cell equi-join)
# ---------------------------------------------------------------------------

def raster_vector_join(vector_df: DataFrame, raster_df: DataFrame,
                       how: str = "left") -> DataFrame:
    """Raster tiles keyed by the same Morton cell join vector features as a
    plain equi-join — rasters become just another cell-keyed table."""
    return vector_df.join(raster_df, "cell", how)


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
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "polygon_id",
) -> DataFrame:
    """Tag each point with the first containing polygon's id (null if none).

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

    @F.pandas_udf(StringType())
    def pip_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        px = xs.to_numpy(dtype=float)
        py = ys.to_numpy(dtype=float)
        out = np.full(len(px), None, dtype=object)
        unassigned = np.ones(len(px), dtype=bool)
        for pid, ring in rings:
            if not unassigned.any():
                break
            hit = unassigned & _ray_cast(px, py, ring)
            out[hit] = pid
            unassigned &= ~hit
        return pd.Series(out)

    # native bbox prefilter over the union of polygon bboxes
    xs_min = min(r[:, 0].min() for _, r in rings)
    xs_max = max(r[:, 0].max() for _, r in rings)
    ys_min = min(r[:, 1].min() for _, r in rings)
    ys_max = max(r[:, 1].max() for _, r in rings)
    in_bbox = (
        (F.col(x_col) >= xs_min) & (F.col(x_col) <= xs_max)
        & (F.col(y_col) >= ys_min) & (F.col(y_col) <= ys_max)
    )
    return points.withColumn(
        out_col,
        F.when(in_bbox, pip_udf(F.col(x_col), F.col(y_col))),
    )


# ---------------------------------------------------------------------------
# kNN (e.g. trail -> nearest streets snapping)
# ---------------------------------------------------------------------------

def snap_trails_to_streets(
    trails: DataFrame,
    streets: DataFrame,
    res: int = 10,
    k: int = 1,
    grid: TileGrid = TileGrid(),
) -> DataFrame:
    """North-star convenience: nearest-street matching for trail snapping.

    trails/streets are WKB-geometry frames (``fid``, ``geometry``); trails
    snap by representative point, streets match as exact segments. Returns
    (trail_fid, street_fid, dist2, knn_rank).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, StructField as SF, StructType as ST)

    from rlis2osm_spark.functions import wkb as _wkb
    from rlis2osm_spark.spatial.tiles import geom_midpoint

    seg_schema = ST([SF("x1", DoubleType()), SF("y1", DoubleType()),
                     SF("x2", DoubleType()), SF("y2", DoubleType())])

    @F.pandas_udf(seg_schema)
    def seg_ends(geoms: pd.Series) -> pd.DataFrame:
        rows = []
        for g in geoms:
            if g is None:
                rows.append((None, None, None, None))
            else:
                rows.append(_wkb.endpoints(bytes(g)))
        return pd.DataFrame(rows, columns=["x1", "y1", "x2", "y2"])

    probe = trails.withColumn("_xy", geom_midpoint(F.col("geometry"))).select(
        F.col("fid").alias("trail_fid"),
        F.col("_xy.x").alias("x"), F.col("_xy.y").alias("y"))
    base = streets.withColumn("_s", seg_ends(F.col("geometry"))).select(
        F.col("fid").alias("street_fid"),
        F.col("_s.x1").alias("x1"), F.col("_s.y1").alias("y1"),
        F.col("_s.x2").alias("x2"), F.col("_s.y2").alias("y2"))
    return knn_join(probe, base, k=k, res=res, probe_id="trail_fid",
                    base_id="street_fid", grid=grid).select(
        "trail_fid", "street_fid", "dist2", "knn_rank")


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
    Plan: base keyed by its bbox-COVERING cells (not the midpoint — a long
    segment's midpoint cell can sit outside the probe ring even when the
    segment passes nearby; covering cells make ring candidacy independent
    of segment length); probe explodes its k_ring -> cell equi-join ->
    native exact distance -> per-probe window top-k.
    The window partitions by probe_id (uniform), so the skewed side is the
    candidate join — AQE skew-split applies.
    """
    based = _segment_cells(base, res, grid, prefix="")

    pix, piy = grid_coords(F.col("x"), F.col("y"), res, grid)
    probed = explode_ring_coords(probe.select(probe_id, "x", "y"), pix, piy)

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

    cands = probed.join(based, join_keys)

    d2 = point_segment_dist2(
        F.col("x"), F.col("y"),
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
    )
    w = Window.partitionBy(probe_id).orderBy(
        F.asc("dist2"), F.asc(base_id)  # deterministic tie-break
    )
    return (
        cands.withColumn("dist2", d2)
        # ONE exchange for dedup + ranking: hash on probe_id satisfies both
        # the (probe_id, base_id) clustering the dedup aggregate needs and
        # the window's probe_id clustering — without this, dropDuplicates
        # shuffles on the pair key and the window reshuffles on probe_id
        # (VERDICT r1 #7; asserted in tests/test_plans.py).
        .repartition(F.col(probe_id))
        # a candidate reachable via 2+ ring cells must count once
        .dropDuplicates([probe_id, base_id])
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )


def polygon_cell_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 8,
    grid: TileGrid = TileGrid(),
    x_col: str = "x",
    y_col: str = "y",
    poly_id: str = "polygon_id",
    ring_col: str = "ring",
    max_cells_per_polygon: int = 100_000,
    point_uid: str | None = None,
) -> DataFrame:
    """Distributed point-in-polygon JOIN — the scale path when the polygon
    layer is itself a big DataFrame (``point_in_polygon`` takes a small
    driver-side list and broadcasts it in the UDF closure).

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
    xs = F.transform(F.col(ring_col), lambda p: p["x"])
    ys = F.transform(F.col(ring_col), lambda p: p["y"])
    fmin = lambda arr: F.array_min(arr)  # noqa: E731
    fmax = lambda arr: F.array_max(arr)  # noqa: E731
    ix0 = F.floor((fmin(xs) - grid.x0) / size).cast("int")
    ix1 = F.floor((fmax(xs) - grid.x0) / size).cast("int")
    iy0 = F.floor((fmin(ys) - grid.y0) / size).cast("int")
    iy1 = F.floor((fmax(ys) - grid.y0) / size).cast("int")
    # loud guard: a continent-sized polygon at fine res would explode into
    # millions of covering cells (the silent-blowup failure mode at 100 TB);
    # fail with the offending id instead — the fix is a coarser res for the
    # big-polygon stratum, not a bigger cluster. The check lives INSIDE the
    # exploded expression so plan pruning can't skip it (same lazy-engine
    # caveat as the strict TYPE->highway lookup).
    n_cells = (ix1 - ix0 + 1).cast("long") * (iy1 - iy0 + 1).cast("long")
    ix0 = F.when(
        n_cells > max_cells_per_polygon,
        F.raise_error(F.concat(
            F.lit(f"polygon exceeds max_cells_per_polygon="
                  f"{max_cells_per_polygon} at res={res}: "),
            F.col(poly_id))).cast("int"),
    ).otherwise(ix0)
    cells = (
        polygons.select(poly_id, ring_col,
                        F.explode(F.sequence(ix0, ix1)).alias("cx"),
                        iy0.alias("_iy0"), iy1.alias("_iy1"))
        .select(poly_id, ring_col, "cx",
                F.explode(F.sequence("_iy0", "_iy1")).alias("cy"))
    )

    pt_cols = list(points.columns)
    reserved = {poly_id, ring_col, "cx", "cy", "_in", "_pt_uid"}
    clash = reserved & set(pt_cols)
    if clash:
        raise ValueError(
            f"points columns {sorted(clash)} collide with reserved names; "
            "rename them before polygon_cell_join")

    pix, piy = grid_coords(F.col(x_col), F.col(y_col), res, grid)
    # per-row uid: the final regroup must preserve duplicate input rows
    # (ADVICE r2 — grouping by the raw point columns collapsed them).
    # Prefer a caller-supplied unique key (point_uid) — zero extra cost.
    # The surrogate fallback (ADVICE r3) is now DETERMINISTIC: a duplicate
    # ordinal from a row-value-partitioned window, so the uid set is a pure
    # function of the input values — stable under task retry / lineage
    # recomputation, unlike the old monotonically_increasing_id (whose
    # values could shift if the points lineage recomputed mid-job,
    # duplicating or collapsing rows in the regroup). Identical rows are
    # interchangeable, so which duplicate takes which ordinal is
    # immaterial. Costs one extra exchange on the points side; pass
    # point_uid to skip it. Unorderable column types (map) cannot key a
    # window — require point_uid there, loudly.
    if point_uid is not None:
        if point_uid not in pt_cols:
            raise ValueError(f"point_uid column {point_uid!r} not in points")
        pts = points.withColumn("_pt_uid", F.struct(F.col(point_uid))) \
            .withColumns({"cx": pix, "cy": piy})
    else:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _contains_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, StructType):
                return any(_contains_map(f.dataType) for f in dt.fields)
            if isinstance(dt, ArrayType):
                return _contains_map(dt.elementType)
            return False

        # recurse: a map nested inside a struct/array is just as unhashable
        # as a top-level one, and would otherwise surface as an opaque
        # analysis error inside the window/hash below (ADVICE r4)
        bad = [f.name for f in points.schema.fields
               if _contains_map(f.dataType)]
        if bad:
            raise ValueError(
                f"points columns {bad} contain map types (unorderable/"
                "unhashable) — the deterministic surrogate uid cannot "
                "window over them; pass point_uid=<unique key column> "
                "instead")
        # the window keys on a 64-bit row hash, NOT the full row payload:
        # identical rows share a hash (so duplicates still get distinct
        # ordinals) and the extra exchange ships 8 bytes per row instead of
        # every column (ADVICE r4). A hash collision between two DIFFERENT
        # rows (~2^-64/pair) would only interleave their ordinal numbering;
        # uids stay unique per row, so the regroup still preserves both.
        row_h = F.xxhash64(*[F.col(c) for c in pt_cols])
        dup_w = Window.partitionBy(row_h).orderBy(F.lit(1))
        pts = points.withColumn(
            "_pt_uid",
            F.struct(row_h.alias("_row_h"),
                     F.row_number().over(dup_w).alias("_dup_idx"))) \
            .withColumns({"cx": pix, "cy": piy})

    @F.pandas_udf(BooleanType())
    def inside(xs_s: pd.Series, ys_s: pd.Series, rings: pd.Series) -> pd.Series:
        out = []
        for x, y, ring in zip(xs_s, ys_s, rings):
            if ring is None:  # unmatched left-join row (no candidate cell)
                out.append(False)
                continue
            r = np.array([[p["x"], p["y"]] for p in ring], dtype=float)
            if not (r[0] == r[-1]).all():
                r = np.vstack([r, r[:1]])
            out.append(bool(_ray_cast(np.array([x]), np.array([y]), r)[0]))
        return pd.Series(out)

    cands = pts.join(cells, ["cx", "cy"], "left")
    hits = cands.withColumn(
        "_in", inside(F.col(x_col), F.col(y_col), F.col(ring_col)))
    return (
        hits.groupBy("_pt_uid")
        .agg(*[F.first(c).alias(c) for c in pt_cols],
             F.min(F.when(F.col("_in"), F.col(poly_id))).alias(poly_id))
        .drop("_pt_uid")
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
    ix0 = F.floor((F.least(x1, x2) - grid.x0) / size).cast("int")
    ix1 = F.floor((F.greatest(x1, x2) - grid.x0) / size).cast("int")
    iy0 = F.floor((F.least(y1, y2) - grid.y0) / size).cast("int")
    iy1 = F.floor((F.greatest(y1, y2) - grid.y0) / size).cast("int")
    return (
        df.select("*", F.explode(F.sequence(ix0, ix1)).alias("cx"),
                  iy0.alias("_iy0"), iy1.alias("_iy1"))
        .select("*", F.explode(F.sequence("_iy0", "_iy1")).alias("cy"))
        .drop("_iy0", "_iy1")
    )


def segment_intersection_join(
    left: DataFrame,
    right: DataFrame,
    res: int = 8,
    grid: TileGrid = TileGrid(),
    left_id: str = "lid",
    right_id: str = "rid",
) -> DataFrame:
    """Line-segment intersection join (e.g. street x street crossing
    detection): bbox-cell candidates -> one equi-join on (cx, cy) ->
    native exact predicate -> pair dedup on a single left-keyed exchange.

    left: (left_id, lx1, ly1, lx2, ly2); right: (right_id, rx1..ry2).
    Choose ``res`` near the typical segment length so a segment covers
    O(1..4) cells."""
    lc = _segment_cells(left, res, grid, "l")
    rc = _segment_cells(right, res, grid, "r")
    cands = lc.join(rc, ["cx", "cy"])
    hit = cands.filter(segments_intersect(
        F.col("lx1"), F.col("ly1"), F.col("lx2"), F.col("ly2"),
        F.col("rx1"), F.col("ry1"), F.col("rx2"), F.col("ry2")))
    return (
        hit.select(left_id, right_id)
        .repartition(F.col(left_id))  # one exchange serves the dedup
        .dropDuplicates([left_id, right_id])
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

    Same candidate machinery as ``knn_join`` (base keyed by bbox-covering
    cells, probe 3x3 ring, cell equi-join, native exact distance) but with
    a distance predicate instead of a ranking window — so it needs NO
    window at all: candidates -> filter -> one probe-keyed exchange for
    the pair dedup. ``res`` must be chosen so the cell size is >= radius
    (ring completeness — with covering-cell keying this is sufficient for
    ANY segment length: the nearest segment point within radius lies in a
    covering cell at most one cell away); violating it raises.
    """
    size = grid.cell_size(res)
    if radius > size:
        raise ValueError(
            f"radius {radius} exceeds cell size {size} at res={res}; "
            "use a coarser res (ring candidates would miss pairs)")
    based = _segment_cells(base, res, grid, prefix="")
    pix, piy = grid_coords(F.col("x"), F.col("y"), res, grid)
    probed = explode_ring_coords(probe.select(probe_id, "x", "y"), pix, piy)
    cands = probed.join(based, ["cx", "cy"])
    d2 = point_segment_dist2(
        F.col("x"), F.col("y"),
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))
    return (
        cands.withColumn("dist2", d2)
        .filter(F.col("dist2") <= radius * radius)
        .select(probe_id, base_id, "dist2")
        .repartition(F.col(probe_id))
        .dropDuplicates([probe_id, base_id])
    )
