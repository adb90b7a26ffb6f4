"""Golden tests for name expansion (FIXTURES.md §6.1; reference
expand.py:139-187 + documented quirks expand.py:199-227)."""

import pandas as pd
import pytest

from rlis2osm_spark.functions.expand import (
    basename_expand,
    build_positional_dicts,
    expand_basename_py,
    expand_direction,
    expand_type,
    titlecase_name,
)
from rlis2osm_spark.functions.titlecase_port import rlis_titlecase

DICTS = build_positional_dicts()


@pytest.mark.parametrize(
    "name,expected",
    [
        ("MT HOOD ST", "Mount HOOD Street"),
        ("ST JOHNS", "Street JOHNS"),  # ≤2 words -> middle dict quirk
        ("GOING/GREELEY CT", "GOING/GREELEY Court"),
        ("Gardenia St - E St Connector", "Gardenia Street-East Street Connector"),
        ("J.Q. ADAMS ST", "John Quincy ADAMS Street"),
        (None, None),
        ("", ""),
        ("US GRANT", "United States GRANT"),  # documented-wrong expansion
        ("MT ST HELENS", "Mount Street HELENS"),  # ST != Saint mid-name
        ("SW MAX CT", "Southwest Metropolitan Area Express Court"),
        ("FT OF N HOLLADAY", "Foot OF N HOLLADAY"),  # N not expanded (middle)
    ],
)
def test_basename_golden(name, expected):
    assert expand_basename_py(name, DICTS) == expected


def test_basename_positional_rules():
    # 1-2 word parts always probe the middle dict
    assert expand_basename_py("ST", DICTS) == "Street"  # TYPE in middle
    assert expand_basename_py("CO RD", DICTS) == "CO Road"  # CO is first-only
    assert expand_basename_py("CO RD X", DICTS) == "County Road X"
    # MT: first/middle -> Mount, last -> Mountain
    assert expand_basename_py("MT HOOD HWY", DICTS) == "Mount HOOD Highway"
    assert expand_basename_py("X HOOD MT", DICTS) == "X HOOD Mountain"


def test_basename_separator_preservation():
    assert expand_basename_py("A  B", DICTS) == "A  B"  # double space kept
    # slash-separated words get positions: N is first (3 words) -> North
    assert expand_basename_py("N/NE CT", DICTS) == "North/Northeast Court"


def test_direction_and_type_column(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"d": ["NE", "NB", "xx", None], "t": ["AVE", "WY", "zz", None]})
    )
    out = df.select(
        expand_direction(df.d).alias("d"), expand_type(df.t).alias("t")
    ).collect()
    assert [r.d for r in out] == ["Northeast", "Northbound", "xx", None]
    assert [r.t for r in out] == ["Avenue", "Way", "zz", None]


def test_basename_udf_matches_py(spark):
    # repeated names and nulls in one Arrow batch: each distinct name runs
    # once and is taken back to every row that holds it
    names = ["MT HOOD ST", "ST JOHNS", None, "GOING/GREELEY CT", "UNNAMED",
             "MT HOOD ST", None, "ST JOHNS", "MT HOOD ST", ""]
    df = spark.createDataFrame(pd.DataFrame({"n": names})).coalesce(1)
    out = df.select(basename_expand(df.n).alias("e"),
                    titlecase_name(df.n).alias("t")).collect()
    assert [r.e for r in out] == [expand_basename_py(n, DICTS) for n in names]
    assert [r.t for r in out] == [rlis_titlecase(n) for n in names]
    assert out[2].e is None and out[2].t == ""  # null -> null, null -> ''
