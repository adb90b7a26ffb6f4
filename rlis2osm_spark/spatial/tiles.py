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
  configured bounding grid; ``k_ring`` gives the 3x3 neighborhood for
  kNN candidate generation.

Coordinate extraction from WKB geometry is the only Arrow step (pandas UDF,
batched); everything downstream of (x, y) is native.

At 100 TB: ``cell`` is the partition/bucket column (Iceberg
``bucket(N, cell)`` or directory partitioning on a cell prefix), so spatial
predicates become partition pruning, and cell-keyed joins co-locate without
a second shuffle. Downtown-vs-rural skew is handled by salting the hot cells
(``pipeline.tile_rollup_salted``) — explicit, per the north rule, with AQE
skew-join as the backstop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, DoubleType

from rlis2osm_spark.functions import wkb

# Portland-metro-ish EPSG:2913 extent (feet); any grid works as long as all
# participants share it — it's a config, not data.
DEFAULT_GRID = dict(x0=7_500_000.0, y0=550_000.0, extent=400_000.0)
MAX_RES = 16


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


def tile_cell(x: Column, y: Column, res: int, grid: TileGrid = TileGrid()) -> Column:
    """Tile assignment: (x, y) -> Morton cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be 0..{MAX_RES}")
    ix, iy = grid_coords(x, y, res, grid)
    return morton_cell(ix, iy)


def parent_cell(cell: Column, levels: int = 1) -> Column:
    """Hierarchical rollup: each level halves resolution (cell >> 2)."""
    return F.shiftright(cell, 2 * levels)


def k_ring(ix: Column, iy: Column, res: int) -> Column:
    """3x3 neighborhood of a grid cell as an array of Morton ids (k=1 ring),
    clipped at the grid edge. Native: explode for candidate joins."""
    n = 1 << res
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nx, ny = ix + dx, iy + dy
            valid = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
            cells.append(F.when(valid, morton_cell(nx, ny)))
    return F.array_compact(F.array(*cells))


_XY_SCHEMA = StructType(
    [StructField("x", DoubleType(), True), StructField("y", DoubleType(), True)]
)


@F.pandas_udf(_XY_SCHEMA)
def geom_midpoint(geoms: pd.Series) -> pd.DataFrame:
    """Representative point of a WKB geometry (Arrow-batched): Point -> the
    point; LineString/Multi -> midpoint of the coordinate bounding box.
    Deterministic and cheap; adequate for cell assignment of small features.
    """
    xs = np.full(len(geoms), np.nan)
    ys = np.full(len(geoms), np.nan)
    for i, g in enumerate(geoms):
        if g is None:
            continue
        b = bytes(g)
        if wkb.geom_type(b) == wkb.WKB_POINT:
            xs[i], ys[i] = wkb.decode_point(b)
        else:
            parts = wkb.decode_lines(b)
            allc = np.concatenate(parts, axis=0)
            xs[i] = (allc[:, 0].min() + allc[:, 0].max()) / 2.0
            ys[i] = (allc[:, 1].min() + allc[:, 1].max()) / 2.0
    return pd.DataFrame({"x": xs, "y": ys})


def with_tile(
    df: DataFrame,
    res: int,
    geom_col: str = "geometry",
    grid: TileGrid = TileGrid(),
    keep_xy: bool = True,
) -> DataFrame:
    """Assign each row its tile: geometry -> (x, y) via one Arrow pass,
    then native quantize + Morton interleave."""
    df = df.withColumn("_xy", geom_midpoint(F.col(geom_col)))
    df = df.withColumn("x", F.col("_xy.x")).withColumn("y", F.col("_xy.y")).drop("_xy")
    ix, iy = grid_coords(F.col("x"), F.col("y"), res, grid)
    df = df.withColumns(
        {"ix": ix, "iy": iy, "cell": morton_cell(ix, iy)}
    )
    return df if keep_xy else df.drop("x", "y")


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


