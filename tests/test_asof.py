"""As-of join unit semantics (backward, tie-inclusive, per-key)."""

from rlis2osm_spark.operators.asof import asof_join


def test_asof_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 15, "d")],
        "k int, ts int, lid string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 15, 300.0), (3, 1, 999.0)],
        "k int, ts int, v double")
    out = {r.lid: r.v_asof for r in
           asof_join(left, right, on="k").collect()}
    assert out == {
        "a": 100.0,   # latest right at ts<=10 is ts=8
        "b": 200.0,   # ts<=20 -> ts=15
        "c": None,    # nothing at ts<=5
        "d": 300.0,   # tie ts==15 is visible (right sorts first)
    }


def test_asof_does_not_cross_keys(spark):
    left = spark.createDataFrame([(1, 10, "a")], "k int, ts int, lid string")
    right = spark.createDataFrame([(2, 5, 7.0)], "k int, ts int, v double")
    out = asof_join(left, right, on="k").collect()
    assert out[0].v_asof is None
