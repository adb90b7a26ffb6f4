"""Trail RLIS->OSM translation (SURVEY §2.3 T13-T20) as pure column exprs.

Semantics from ``TrailsTranslator`` (/root/reference/rlis2osm/translate.py:
165-422). Everything — including the est_width parser with its Py2
half-away-from-zero rounding and ``format(x,'g')`` trailing-zero strip — is
expressed natively: widths are positive, so ``floor(x+0.5)`` reproduces Py2
``round`` exactly and the 0.25-resolution grid makes the 'g' format a single
``.0``-suffix strip. Zero Python in this operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlis2osm_spark.functions.expand import literal_map, make_basename_udf

# simple value maps (translate.py:170-196)
TRAIL_ACCESS_MAP = {"Restricted_Private": "private", "Unknown": "unknown"}
TRAIL_FEE_MAP = {"Open_Fee": "yes"}
TRAIL_SURFACE_MAP = {
    "Chunk Wood": "woodchips",
    "Decking": "wood",
    "Hard Surface": "paved",
    "Imported Material": "compacted",
    "Native Material": "ground",
    "Snow": "snow",
    # 'Unknown' maps to None (translate.py:189) == absent for tag purposes
}
TRAIL_WHEELCHAIR_MAP = {"Accessible": "yes", "Not Accessible": "no"}


def _truthy(col: Column) -> Column:
    """Python truthiness for nullable strings: non-null and non-empty."""
    return col.isNotNull() & (col != "")


def expand_trail_names(df: DataFrame) -> DataFrame:
    """P4 over the four trail name fields (main.py:120-122). No titlecase —
    the reference only titlecases street names (parity quirk, SURVEY §2.2 P7).
    """
    basename = make_basename_udf()
    return df.withColumns(
        {c: basename(F.col(c))
         for c in ("AGENCYNAME", "SHAREDNAME", "SYSTEMNAME", "TRAILNAME")}
    )


def keep_trail(df: DataFrame) -> DataFrame:
    """T13 drop filter (translate.py:264-271): on-street bike segments,
    conceptual trails, and waterways are dropped."""
    drop = (
        (F.col("ONSTRBIKE") == "Yes")
        | (F.col("STATUS") == "Conceptual")
        | (F.col("TRLSURFACE") == "Water")
    )
    # null comparisons yield NULL -> treated as keep, matching Python != logic
    return df.filter(~F.coalesce(drop, F.lit(False)))


def est_width_expr(width: Column, resolution: float = 0.25) -> Column:
    """T15 width parser (translate.py:385-409) as native columns.

    '6-9' -> mean; '15+' -> x1.25; 'Unknown'/null/'' -> null; a plain number
    -> null (no branch sets temp_width — faithful quirk). Feet -> meters,
    rounded to `resolution` half-away-from-zero (Py2 round), formatted with
    trailing-zero strip ('g').
    """
    mean_w = (
        F.split(width, "-").getItem(0).cast("double")
        + F.split(width, "-").getItem(1).cast("double")
    ) / 2.0
    plus_w = F.regexp_replace(width, r"\+", "").cast("double") * 1.25
    temp = (
        F.when(width.isNull() | (width == ""), F.lit(None).cast("double"))
        .when(width.contains("-"), mean_w)
        .when(width.contains("+"), plus_w)
        # 'Unknown' and plain numbers both fall through to null
    )
    # `if temp_width:` is also false for an (impossible for rlis) 0.0
    meters = F.when(temp.isNotNull() & (temp != 0.0), temp * 0.3048)
    rounded = F.floor(meters / resolution + 0.5) * resolution
    s = rounded.cast("string")
    return F.regexp_replace(s, r"\.0$", "")


def translate_trails(df: DataFrame) -> DataFrame:
    """T14-T20: trail attributes -> 15 OSM tag columns (translate.py:277-295).

    Expects name fields already expanded and the drop filter applied.
    Passthrough: ``fid``, ``geometry``.
    """
    est_width = est_width_expr(F.col("WIDTH"))
    df = df.withColumn("est_width", est_width)

    road_bike = F.col("ROADBIKE")
    mtn_bike = F.col("MTNBIKE")
    equestrian = F.col("EQUESTRIAN")
    hike = F.col("HIKE")

    # r7 (guide §1.2 per-task work): bike_designated / is_path_multi / hw0
    # are referenced by nearly every output tag; inlined as raw Column
    # expressions they were textually duplicated ~12x in the final Project
    # (each copy re-casting the est_width STRING to double — see
    # plans/r07/t13_t20_trails_before.txt node (6)). Staged as named
    # columns they are multi-referenced aliases, which CollapseProject
    # keeps materialized, so each evaluates once per row. Same values,
    # same output schema (staged cols dropped below).
    df = df.withColumn(
        "_bike_desig",
        F.coalesce(
            (road_bike == "Yes") & (
                (F.coalesce(F.col("est_width").cast("double"), F.lit(0.0))
                 > 3.0)
                | F.col("SYSTEMTYPE").isin("Regional", "State", "National")
            ),
            F.lit(False)))
    bike_designated = F.col("_bike_desig")

    # T16: n_any(path_conditions, 2) (translate.py:497-505, 326-335)
    n_true = (
        F.coalesce((equestrian == "Yes").cast("int"), F.lit(0))
        + F.coalesce((hike == "Yes").cast("int"), F.lit(0))
        + F.coalesce((mtn_bike == "Yes").cast("int"), F.lit(0))
        + bike_designated.cast("int")
    )
    df = df.withColumns({
        "_is_stairs": F.col("TRLSURFACE") == "Stairs",
        "_is_path_multi": n_true >= 2,
    })
    is_stairs = F.col("_is_stairs")
    is_path_multi = F.col("_is_path_multi")

    # T17 decision tree, branch-for-branch (translate.py:333-364)
    df = df.withColumn(
        "_hw0",
        F.when(is_stairs, F.lit("steps"))
        .when(is_path_multi, F.lit("path"))
        .when(bike_designated, F.lit("cycleway"))
        .when(mtn_bike == "Yes", F.lit("path"))
        .when(equestrian == "Yes", F.lit("bridleway"))
        .otherwise(F.lit("footway"))
    )
    hw0 = F.col("_hw0")

    horse = F.when(
        is_path_multi & ~F.coalesce(is_stairs, F.lit(False)),
        F.when(equestrian == "Yes", "designated").when(equestrian == "No", "no"),
    )

    foot0 = F.when(
        is_path_multi & ~F.coalesce(is_stairs, F.lit(False)) & _truthy(hike),
        F.lit("designated"),
    )
    # override: hike == 'No' -> foot = 'no' (translate.py:366-367)
    foot = F.when(hike == "No", F.lit("no")).otherwise(foot0)

    in_multi = is_path_multi & ~F.coalesce(is_stairs, F.lit(False))
    not_stairs_multi_bd = (
        ~F.coalesce(is_stairs, F.lit(False)) & ~is_path_multi & bike_designated
    )
    bicycle0 = (
        F.when(in_multi & (_truthy(road_bike) | _truthy(mtn_bike)), "designated")
        .when(
            ~F.coalesce(is_stairs, F.lit(False))
            & ~is_path_multi
            & ~bike_designated
            & F.coalesce(mtn_bike == "Yes", F.lit(False)),
            "designated",
        )
        .when(
            ~F.coalesce(is_stairs, F.lit(False))
            & ~is_path_multi
            & ~bike_designated
            & ~F.coalesce(mtn_bike == "Yes", F.lit(False))
            & ~F.coalesce(equestrian == "Yes", F.lit(False))
            & F.coalesce(road_bike == "Yes", F.lit(False)),
            "yes",
        )
    )
    _ = not_stairs_multi_bd  # (cycleway branch sets no bicycle tag)
    # override: explicit 'No' on one bike mode without 'Yes' on the other
    # (translate.py:369-371)
    bike_no = (
        ((mtn_bike == "No") & (F.coalesce(road_bike, F.lit("")) != "Yes"))
        | ((road_bike == "No") & (F.coalesce(mtn_bike, F.lit("")) != "Yes"))
    )
    bicycle = F.when(F.coalesce(bike_no, F.lit(False)), "no").otherwise(bicycle0)

    # T18 status -> tag relocation (translate.py:373-383)
    status = F.col("STATUS")
    abandoned = F.when(status == "Decommissioned", hw0)
    proposed = F.when(status == "Planned", hw0)
    construction = F.when(status == "Under construction", hw0)
    highway = (
        F.when(status == "Decommissioned", F.lit(None).cast("string"))
        .when(status == "Planned", F.lit("proposed"))
        .when(status == "Under construction", F.lit("construction"))
        .otherwise(hw0)
    )

    # T19 names (translate.py:411-422); Python `or` skips '' too
    tname = F.nullif(F.col("TRAILNAME"), F.lit(""))
    sname = F.nullif(F.col("SHAREDNAME"), F.lit(""))
    yname = F.nullif(F.col("SYSTEMNAME"), F.lit(""))
    name = F.coalesce(tname, sname, F.col("SYSTEMNAME"))
    alt_name = F.when(_truthy(sname) & (sname != name), sname).when(
        _truthy(yname) & (yname != name), yname
    )
    operator = F.when(F.col("AGENCYNAME") != "Unknown", F.col("AGENCYNAME"))

    return df.withColumns(
        {
            "abandoned:highway": abandoned,
            "access": F.element_at(literal_map(TRAIL_ACCESS_MAP), status),
            "alt_name": alt_name,
            "bicycle": bicycle,
            "construction": construction,
            "fee": F.element_at(literal_map(TRAIL_FEE_MAP), status),
            "foot": foot,
            "highway": highway,
            "horse": horse,
            "name": name,
            "operator": operator,
            "proposed": proposed,
            "surface": F.element_at(literal_map(TRAIL_SURFACE_MAP),
                                    F.col("TRLSURFACE")),
            "wheelchair": F.element_at(
                literal_map(TRAIL_WHEELCHAIR_MAP), F.col("ACCESSIBLE")
            ),
        }
    ).drop("_bike_desig", "_is_stairs", "_is_path_multi", "_hw0")
