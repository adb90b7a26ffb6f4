"""Hierarchical Z-order (Morton) tile index — the engine's H3/S2 equivalent.

The north rule (BASELINE.json) requires batched spatial cell encoding, tile
assignment, and cell-keyed joins. No H3/S2 library exists in this
environment, so the engine uses a Morton-interleaved quadtree grid — the same
design S2 uses (Hilbert) and GeoParquet/BigQuery use (Z-order):

- deterministic, hierarchical (parent = ``cell >> 2``), prefix-prunable;
- implemented as **pure native column expressions** (shift/mask bit
  interleaving) — JVM-side, whole-stage codegen, also expressible 1:1 in
  ANSI SQL for the DuckDB oracle;
- cells at resolution R partition space into 2^R x 2^R tiles over a
  configured bounding grid; ``explode_ring_coords`` gives the 3x3
  neighborhood that ``joins._ring_candidates``, the one candidate
  generator of the kNN and radius joins, keys its join on.

Coordinate extraction from WKB geometry is the only Python step: an Arrow
UDF that reads whole binary buffers with numpy, no Python object per row;
everything downstream of (x, y) is native.

At 100 TB: ``cell`` is the partition/bucket column (Iceberg
``bucket(N, cell)`` or directory partitioning on a cell prefix), so spatial
predicates become partition pruning, and cell-keyed joins co-locate without
a second shuffle. Downtown-vs-rural skew: cell-keyed aggregations absorb it
in their map-side partial aggregation, and the ring-candidate join salts
the hot cells explicitly (``joins.knn_join(n_salts=)``), with AQE skew-join
as the backstop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType, StructField, StructType, DoubleType

from rlis2osm_spark.functions import wkb

# Portland-metro-ish EPSG:2913 extent (feet); any grid works as long as all
# participants share it — it's a config, not data.
DEFAULT_GRID = dict(x0=7_500_000.0, y0=550_000.0, extent=400_000.0)


@dataclass(frozen=True)
class TileGrid:
    x0: float = DEFAULT_GRID["x0"]
    y0: float = DEFAULT_GRID["y0"]
    extent: float = DEFAULT_GRID["extent"]

    def cell_size(self, res: int) -> float:
        return self.extent / (1 << res)


def _spread_bits(v: Column) -> Column:
    """Interleave-ready bit spread: 16-bit int -> even bit positions of 32.

    Classic mask-shift sequence; every step is a native bigint op (and the
    exact same expression runs in DuckDB SQL for the oracle).
    """
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
    return v


def morton_cell(ix: Column, iy: Column) -> Column:
    """Morton code of integer grid coords (native bitwise interleave)."""
    return _spread_bits(ix.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits(iy.cast("long")), 1)
    )


def grid_coords(x: Column, y: Column, res: int, grid: TileGrid = TileGrid()):
    """Quantize coordinates to the 2^res grid (clamped to bounds)."""
    n = 1 << res
    ix = F.floor((x - F.lit(grid.x0)) / F.lit(grid.extent) * n)
    iy = F.floor((y - F.lit(grid.y0)) / F.lit(grid.extent) * n)
    clamp = lambda c: F.greatest(F.lit(0), F.least(F.lit(n - 1), c))  # noqa: E731
    return clamp(ix), clamp(iy)


def parent_cell(cell: Column, levels: int = 1) -> Column:
    """Hierarchical rollup: each level halves resolution (cell >> 2)."""
    return F.shiftright(cell, 2 * levels)


_XY_SCHEMA = StructType(
    [StructField("x", DoubleType(), True), StructField("y", DoubleType(), True)]
)


@arrow_udf(_XY_SCHEMA)
def geom_midpoint(geoms: pa.Array) -> pa.Array:
    """Representative point of a WKB geometry, over whole Arrow buffers:
    Point -> the point; LineString/Multi -> midpoint of the coordinate
    bounding box; null geometry (or a NaN coordinate) -> null x/y.
    Deterministic and cheap; adequate for cell assignment of small features.
    """
    coords, counts, types = wkb.vertices_batch(geoms)
    if ((types != 0) & (counts == 0)).any():
        raise ValueError("empty geometry has no midpoint")
    xy = np.full((len(geoms), 2), np.nan)
    rows = np.flatnonzero(counts)
    first = (np.cumsum(counts) - counts)[rows]   # each row's first vertex
    if len(rows):
        lo = np.minimum.reduceat(coords, first, axis=0)
        hi = np.maximum.reduceat(coords, first, axis=0)
        point = types[rows] == wkb.WKB_POINT
        xy[rows[point]] = lo[point]             # a Point's one vertex
        xy[rows[~point]] = (lo[~point] + hi[~point]) / 2.0
    return pa.StructArray.from_arrays(
        [pa.array(xy[:, 0], from_pandas=True),
         pa.array(xy[:, 1], from_pandas=True)], names=["x", "y"])


@arrow_udf(BinaryType())
def point_wkb(xs: pa.Array, ys: pa.Array) -> pa.Array:
    """WKB Point of each (x, y), a null coordinate as NaN, over whole Arrow
    buffers: how derived coordinates enter the geometry ->
    ``geom_midpoint`` -> cell path."""
    return wkb.encode_points_batch(xs.to_numpy(zero_copy_only=False),
                                   ys.to_numpy(zero_copy_only=False))


def with_cell(df: DataFrame, res: int, grid: TileGrid) -> DataFrame:
    """Add the tile of each row's ``x``/``y``: quantized ``ix``/``iy``
    columns, then their Morton ``cell``. ``ix``/``iy`` are columns before
    ``cell`` reads them: the interleave reads its input 16 times, so built
    on the quantize expressions the plan would repeat each clamp term 16
    times."""
    ix, iy = grid_coords(F.col("x"), F.col("y"), res, grid)
    return df.withColumns({"ix": ix, "iy": iy}).withColumn(
        "cell", morton_cell(F.col("ix"), F.col("iy")))


def with_tile(df: DataFrame, res: int,
              grid: TileGrid = TileGrid()) -> DataFrame:
    """Assign each row its tile: ``geometry`` -> (x, y) via one Arrow UDF
    pass, then native quantize + Morton interleave (``with_cell``)."""
    df = df.withColumn("_xy", geom_midpoint(F.col("geometry")))
    df = df.withColumn("x", F.col("_xy.x")).withColumn("y", F.col("_xy.y")).drop("_xy")
    return with_cell(df, res, grid)


def explode_ring_coords(df: DataFrame, ix: Column, iy: Column) -> DataFrame:
    """Candidate-generation form of the 3x3 ring: one row per neighbor grid
    coordinate (``cx``, ``cy``). Joining on the raw (cx, cy) pair is the
    cheap path — a two-int equi-join with ONE tiny explode — versus
    materializing 9 Morton codes per row (9 full interleave expression
    trees blow the codegen method budget and fall out of whole-stage
    codegen). Morton cells remain the storage/partition key; the ring join
    never needs them."""
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    return (
        df.withColumns({"_ix": ix, "_iy": iy})
        .select("*", F.explode(offsets).alias("_o"))
        .withColumns({"cx": F.col("_ix") + F.col("_o.dx"),
                      "cy": F.col("_iy") + F.col("_o.dy")})
        .drop("_o", "_ix", "_iy")
    )


