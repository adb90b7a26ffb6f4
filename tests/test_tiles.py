"""Z-order tile index tests: Morton parity with a reference implementation,
hierarchy, clamping, native-plan checks."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rlis2osm_spark.functions.wkb import encode_linestring, encode_points_batch
from rlis2osm_spark.spatial.tiles import (
    TileGrid,
    grid_coords,
    morton_cell,
    parent_cell,
    with_tile,
)


def _morton_py(ix: int, iy: int) -> int:
    out = 0
    for b in range(16):
        out |= ((ix >> b) & 1) << (2 * b)
        out |= ((iy >> b) & 1) << (2 * b + 1)
    return out


def test_morton_parity(spark):
    rng = np.random.RandomState(7)
    pts = [(int(a), int(b)) for a, b in rng.randint(0, 65536, size=(64, 2))]
    df = spark.createDataFrame(pts, "ix int, iy int")
    got = df.select(morton_cell(F.col("ix"), F.col("iy")).alias("c")).collect()
    expected = [_morton_py(ix, iy) for ix, iy in pts]
    assert [r.c for r in got] == expected


def test_parent_hierarchy(spark):
    df = spark.createDataFrame([(10, 20)], "ix int, iy int")
    child = morton_cell(F.col("ix"), F.col("iy"))
    parent = parent_cell(child, 1)
    r = df.select(child.alias("c"), parent.alias("p")).collect()[0]
    # parent = morton of (ix//2, iy//2)
    assert r.p == _morton_py(5, 10)
    assert r.c >> 2 == r.p


def test_tile_cell_bounds_clamped(spark):
    g = TileGrid(0.0, 0.0, 1000.0)
    df = spark.createDataFrame(
        [(-50.0, -50.0), (999.9, 999.9), (2000.0, 2000.0)], "x double, y double")
    cell = morton_cell(*grid_coords(F.col("x"), F.col("y"), 4, g))
    out = df.select(cell.alias("c")).collect()
    n = (1 << 4) - 1
    assert out[0].c == 0
    assert out[1].c == _morton_py(n, n)
    assert out[2].c == _morton_py(n, n)  # clamped, not wrapped


def test_with_tile_geometry(spark):
    g = TileGrid(0.0, 0.0, 1024.0)
    rows = [
        ("p", encode_points_batch(np.array([100.0]),
                                  np.array([100.0]))[0].as_py()),
        ("l", encode_linestring([(0.0, 0.0), (200.0, 200.0)])),
    ]
    df = spark.createDataFrame(rows, "id string, geometry binary")
    out = {r.id: r for r in with_tile(df, 10, grid=g).collect()}
    assert (out["p"].x, out["p"].y) == (100.0, 100.0)
    assert (out["l"].x, out["l"].y) == (100.0, 100.0)  # bbox midpoint
    assert out["p"].cell == out["l"].cell


def _floor_terms(plan: str) -> list[str]:
    """Every ``FLOOR(...)`` term of a printed plan, parentheses balanced."""
    terms, at = [], plan.find("FLOOR(")
    while at != -1:
        depth, end = 0, at + len("FLOOR")
        for end in range(end, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        terms.append(plan[at:end + 1])
        at = plan.find("FLOOR(", at + 1)
    return terms


def _clamp_plan_frames(spark):
    from rlis2osm_spark.queries import all_queries

    q = all_queries()
    df = spark.createDataFrame(
        [("l", encode_linestring([(0.0, 0.0), (200.0, 200.0)]))],
        "id string, geometry binary")
    sf = "/root/testdata/sf0.001"
    return {
        "with_tile": with_tile(df, 10, grid=TileGrid(0.0, 0.0, 1024.0)),
        "s3_tile_rollup": q["s3_tile_rollup"](spark, sf),
        "s2_tile_assignment_wkb": q["s2_tile_assignment_wkb"](spark, sf),
    }


@pytest.mark.parametrize(
    "name", ["with_tile", "s3_tile_rollup", "s2_tile_assignment_wkb"])
def test_with_tile_plan_computes_each_clamp_once(spark, name):
    """``cell`` is built on staged ``ix``/``iy`` columns
    (``tiles.with_cell``), so the executed plan holds each coordinate's
    FLOOR(...) clamp term at most twice, not once per read of the Morton
    interleave (16 reads each, and 16 more for a ``parent_cell`` built on
    the interleave expression)."""
    df = _clamp_plan_frames(spark)[name]
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = Counter(_floor_terms(plan))
    assert counts and max(counts.values()) <= 2, counts
    if name == "with_tile":
        (row,) = df.collect()
        assert (row.ix, row.iy) == (100, 100)
        assert row.cell == _morton_py(100, 100)


def test_tile_expr_is_native(spark):
    """Quantize+interleave must contain no Python UDF at all."""
    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    plan = (
        df.select(morton_cell(*grid_coords(F.col("x"), F.col("y"), 12))
                  .alias("c"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan


def test_morton_matches_duckdb_sql(spark):
    """The exact same shift-mask expression must be runnable as the DuckDB
    oracle (driver contract)."""
    import duckdb

    def sql_spread(v):
        s = v
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                            (2, 0x33333333), (1, 0x55555555)):
            s = f"(({s} | ({s} << {shift})) & {mask})"
        return s

    q = (f"select ix, iy, ({sql_spread('ix::BIGINT')} | "
         f"({sql_spread('iy::BIGINT')} << 1)) as c "
         "from (select unnest(range(0, 300)) % 17 * 31 as ix, "
         "unnest(range(0, 300)) % 13 * 29 as iy)")
    duck = duckdb.sql(q).fetchall()
    pdf = pd.DataFrame([(r[0], r[1]) for r in duck], columns=["ix", "iy"])
    df = spark.createDataFrame(pdf)
    got = df.select(morton_cell(F.col("ix"), F.col("iy")).alias("c")).collect()
    assert [r.c for r in got] == [r[2] for r in duck]
