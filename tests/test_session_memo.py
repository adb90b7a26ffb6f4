"""The query registry's one in-process cache layer (``queries.util.
session_memo``): a repeat call in the same session returns the identical
object, and a conf change, a rewrite of an input or a new session object
rebuilds it instead of serving the old one."""

from rlis2osm_spark.queries import all_queries
from rlis2osm_spark.queries.content2 import _ann_artifacts, media_feature_legs
from rlis2osm_spark.queries.util import cached_stage, load

SF = "/root/testdata/sf0.001"


def _slice_rdd_ids(df) -> list:
    """Ids of the in-memory RDDs a plan reads (its localCheckpoints)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sorted(leaves.apply(i).rdd().id() for i in range(leaves.size())
                  if leaves.apply(i).nodeName() == "LogicalRDD")


def test_warm_calls_return_the_identical_object(spark):
    assert load(spark, SF, "lineitem") is load(spark, SF, "lineitem")
    # no query's build may touch the conf, or its next call would rebuild
    for q in all_queries().values():
        assert q(spark, SF) is q(spark, SF)

    def stage():
        return cached_stage(spark, SF, "memo_probe",
                            lambda: load(spark, SF, "region"),
                            inputs=[f"{SF}/region.parquet"])
    assert stage() is stage()
    first, again = _ann_artifacts(spark, SF), _ann_artifacts(spark, SF)
    assert all(a is b for a, b in zip(first, again))
    # the decode legs are cheap projections built per call; what must not
    # be rebuilt is the per-kind payload slices they read
    first, again = media_feature_legs(spark, SF), media_feature_legs(spark, SF)
    for kind in first:
        ids = _slice_rdd_ids(first[kind])
        assert ids and ids == _slice_rdd_ids(again[kind])


def test_conf_change_rebuilds(spark):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    q = all_queries()["q01_pricing_summary"]
    # m1's slices are coalesced to shuffle.partitions // 4
    legs = media_feature_legs(spark, SF)
    assert legs["png"].rdd.getNumPartitions() == int(old) // 4 > 1
    plan = q(spark, SF)
    try:
        spark.conf.set(key, "4")
        rebuilt = media_feature_legs(spark, SF)
        assert rebuilt["png"].rdd.getNumPartitions() == 1
        assert _slice_rdd_ids(rebuilt["png"]) != _slice_rdd_ids(legs["png"])
        assert q(spark, SF) is not plan
    finally:
        spark.conf.set(key, old)
    assert media_feature_legs(spark, SF)["png"].rdd.getNumPartitions() == \
        int(old) // 4


def test_rewritten_input_is_read_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(500).repartition(3).write.parquet(path)
    assert load(spark, str(tmp_path), "t").count() == 500
    spark.range(1000).repartition(4).write.mode("overwrite").parquet(path)
    assert load(spark, str(tmp_path), "t").count() == 1000


def test_new_session_gets_its_own_plan(spark):
    q = all_queries()["q01_pricing_summary"]
    assert q(spark, SF).sparkSession is spark
    other = spark.newSession()
    assert q(other, SF).sparkSession is other
    assert q(spark, SF).sparkSession is spark
