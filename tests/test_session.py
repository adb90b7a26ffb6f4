"""Session defaults that keep repeated plans cheap: generated classes stay
cached across passes, and building a plan makes no call-site round trips."""

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (each codegen cache miss is one)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_over_distinct_plans_compiles_nothing(spark):
    """56 projections, each with its own inlined literals, under one
    aggregate. Union is not fused into whole-stage codegen, so every branch
    is a generated class of its own, compiled once for the driver and once
    for the executor: well over 100 classes, Spark's default cache size. A
    second pass over the same plan must be served from the codegen cache."""
    def branch(i):
        v = F.col("id") * (i + 3) + i
        return spark.range(0, 16, 1, 1).select(v.alias("v"),
                                               (v % (i + 5)).alias("k"))

    def one_pass():
        (reduce(DataFrame.union, map(branch, range(56)))
         .groupBy("k").agg(F.sum("v"), F.max("v")).collect())

    c0 = _compiles(spark)
    one_pass()
    c1 = _compiles(spark)
    assert c1 - c0 > 100, f"first pass compiled only {c1 - c0} classes"
    one_pass()
    assert _compiles(spark) == c1


def test_building_combine_makes_few_py4j_round_trips(spark, synth_dir,
                                                     monkeypatch):
    """Building (not running) ``combine()`` over the synthetic tables stays
    under 4,500 py4j calls. With PySpark's DataFrame call-site capture on,
    every F.* and Column call adds about five round trips (7-8.5k total)."""
    from rlis2osm_spark.operators.combine import combine

    streets, trails, bikes = (
        spark.read.parquet(os.path.join(synth_dir, f"{n}.parquet"))
        for n in ("streets", "trails", "bike_routes"))
    client = spark.sparkContext._gateway._gateway_client
    calls = 0
    send = client.send_command

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    combine(streets, trails, bikes)
    monkeypatch.undo()
    assert 0 < calls <= 4500, calls
