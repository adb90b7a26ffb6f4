"""Street RLIS->OSM translation as pure column expressions (SURVEY §2.3 T1-T12).

Semantics from the reference's ``StreetTranslator``
(/root/reference/rlis2osm/translate.py:4-162), re-expressed declaratively so
Catalyst constant-folds the literal maps and the whole transform stays inside
one WholeStageCodegen span — zero Python in this operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlis2osm_spark.functions.expand import (
    expand_direction,
    expand_type,
    literal_map,
    make_basename_udf,
    make_titlecase_udf,
)

# TYPE -> tag literal maps (translate.py:12-41; stored inverted there, flat here)
ACCESS_BY_TYPE = {
    1700: "private", 1740: "private", 1750: "private", 1760: "private",
    1800: "private", 1850: "private", 5402: "no",
}
HIGHWAY_BY_TYPE = {
    1110: "motorway", 5101: "motorway", 5201: "motorway",
    1120: "motorway_link", 1121: "motorway_link", 1122: "motorway_link",
    1123: "motorway_link",
    1200: "primary", 1300: "primary", 5301: "primary",
    1221: "primary_link", 1222: "primary_link", 1223: "primary_link",
    1321: "primary_link",
    1400: "secondary", 5401: "secondary", 5451: "secondary",
    1421: "secondary_link", 1471: "secondary_link",
    1450: "tertiary", 5402: "tertiary", 5500: "tertiary", 5501: "tertiary",
    1521: "tertiary_link",
    1500: "residential", 1550: "residential", 1700: "residential",
    1740: "residential", 2000: "residential", 8224: "residential",
    1560: "service", 1600: "service", 1750: "service", 1760: "service",
    1800: "service", 1850: "service",
    9000: "track",
}
SERVICE_BY_TYPE = {1600: "alley", 1750: "driveway", 1850: "driveway"}
SURFACE_BY_TYPE = {2000: "unpaved"}


def expand_street_names(df: DataFrame) -> DataFrame:
    """P1/P2/P4 over the four street name parts (main.py:81-84)."""
    basename = make_basename_udf()
    return df.withColumns(
        {
            "PREFIX": expand_direction(F.col("PREFIX")),
            "STREETNAME": basename(F.col("STREETNAME")),
            "FTYPE": expand_type(F.col("FTYPE")),
            "DIRECTION": expand_direction(F.col("DIRECTION")),
        }
    )


def _coalesce_zlev(col: Column) -> Column:
    # Python `z or 1`: None and 0 both coalesce to 1 (translate.py:139-140)
    return F.when(col.isNull() | (col == 0), F.lit(1)).otherwise(col)


def layer_expr(f_zlev: Column, t_zlev: Column) -> Column:
    """T10: z-level pair -> OSM layer (translate.py:137-154)."""
    fz = _coalesce_zlev(f_zlev)
    tz = _coalesce_zlev(t_zlev)
    max_z = F.greatest(fz, tz)
    return (
        F.when(
            fz == tz,
            F.when(fz > 1, fz - 1).when(fz < 0, fz),
        )
        .when(max_z > 1, max_z - 1)
        .when(max_z < 0, F.least(fz, tz))
    )


def translate_streets(df: DataFrame, strict: bool = True) -> DataFrame:
    """T1-T12: street attributes -> OSM tag columns.

    Expects name parts already expanded (expand_street_names). Keeps
    ``fid``, ``LOCALID``, ``geometry`` as passthrough; produces the 9 OSM
    street fields (translate.py:62-72) plus titlecased ``name`` (P7,
    main.py:90-91 — null name becomes '' by design).
    """
    name_raw = F.when(
        F.col("STREETNAME").isNull()
        | (F.col("STREETNAME") == "")
        | (F.lower(F.col("STREETNAME")) == "unnamed"),
        F.lit(None).cast("string"),
    ).otherwise(
        # ' '.join skips falsy parts (None and '') — translate.py:117-123
        F.concat_ws(
            " ",
            *[
                F.nullif(F.col(c), F.lit(""))
                for c in ("PREFIX", "STREETNAME", "FTYPE", "DIRECTION")
            ],
        )
    )

    hw_lookup = F.element_at(literal_map(HIGHWAY_BY_TYPE), F.col("TYPE"))
    if strict:
        # T2 is a closed domain: unknown TYPE must fail loudly
        # (plain dict access at translate.py:125 raises KeyError).
        # Lazy-engine caveat: the raise_error lives inside the `highway`
        # expression, so a plan that prunes that column (e.g. bare count())
        # won't trip it; every real sink materializes highway and does.
        hw_base = F.when(
            hw_lookup.isNull(),
            F.raise_error(
                F.concat(F.lit("unknown street TYPE code: "),
                         F.col("TYPE").cast("string"))
            ),
        ).otherwise(hw_lookup)
    else:
        hw_base = hw_lookup

    df = df.withColumns({"_name0": name_raw, "_hw0": hw_base})

    # T8 residential downgrade / T9 link name->description (translate.py:127-135)
    hw = F.when(
        (F.col("_hw0") == "residential") & F.col("_name0").isNull(),
        F.lit("service"),
    ).otherwise(F.col("_hw0"))
    is_link = F.col("_hw0").contains("_link")
    name_after = F.when(is_link, F.lit(None).cast("string")).otherwise(F.col("_name0"))
    description = F.when(is_link, F.col("_name0"))

    layer = layer_expr(F.col("F_ZLEV"), F.col("T_ZLEV"))
    titlecase_udf = make_titlecase_udf()

    out = df.withColumns(
        {
            "access": F.element_at(literal_map(ACCESS_BY_TYPE), F.col("TYPE")),
            "bridge": F.when(layer > 0, F.lit("yes")),
            "description": description,
            "highway": hw,
            "layer": layer.cast("int"),
            "name": titlecase_udf(name_after),  # None -> '' (main.py:90)
            "service": F.element_at(literal_map(SERVICE_BY_TYPE),
                                    F.col("TYPE")),
            "surface": F.element_at(literal_map(SURFACE_BY_TYPE),
                                    F.col("TYPE")),
            "tunnel": F.when(layer < 0, F.lit("yes")),
        }
    ).drop("_name0", "_hw0")

    return out
