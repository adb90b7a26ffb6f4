"""Physical-plan assertions: the scale-critical properties (pushdown,
broadcast, partial aggregation, codegen, no stray Python) are regression-
guarded here, not just eyeballed once."""

import pytest
from pyspark.sql import functions as F

from rlis2osm_spark.queries import all_queries

SF = "/root/testdata/sf0.001"
Q = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark):
    df = Q["s1_scan_pushdown"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:200]
    # column pruning: ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_bike_overlay_join_strategy(spark):
    # r7: the overlay collect_list aggregate scales WITH the fact (one
    # group per order), so j2 now pins a shuffled-hash build instead of a
    # broadcast (guide §3.1); the genuinely-small-build broadcast shape is
    # still asserted by test_bike_operator_broadcast below.
    df = Q["j2_overlay_fanout"](spark, SF)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bike_operator_broadcast(spark):
    # the real bike overlay operator broadcasts its genuinely-small build
    # side (operators/bike.py) — the shape j2 used to demonstrate
    from rlis2osm_spark.operators.bike import apply_bike_overlay
    from rlis2osm_spark.queries.util import load

    streets = load(spark, SF, "orders").select(
        F.col("o_orderkey").alias("LOCALID"),
        F.lit(None).cast("binary").alias("geometry"))
    bikes = load(spark, SF, "nation").select(
        F.col("n_nationkey").cast("long").alias("fid"),
        (F.col("n_nationkey") + 900001000).cast("long").alias("BIKEID"),
        F.lit("BKE-LANE").alias("BIKETYP"),
        F.lit("LT").alias("BIKETHERE"),
        F.lit(None).cast("binary").alias("geometry"))
    out = apply_bike_overlay(streets, bikes)
    assert "BroadcastHashJoin" in _plan(out)


def test_q01_partial_aggregation(spark):
    plan = _plan(Q["q01_pricing_summary"](spark, SF))
    # partial + final hash aggregate around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_translate_no_rowwise_python(spark):
    plan = _plan(Q["t13_t20_trails"](spark, SF))
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDF anywhere
    assert "ArrowEvalPython" not in plan  # trails translation is all-native
    assert "*(1)" in plan  # '*(n)' marks WholeStageCodegen stages


def test_tile_assignment_is_native_after_arrow(spark):
    from rlis2osm_spark.queries.spatial_sql import s2_tile_assignment

    df = s2_tile_assignment(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_knn_probe_filter_pushdown(spark):
    plan = _plan(Q["s5_knn_points"](spark, SF))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,60)" in plan \
        or "LessThan(doc_id,60)" in plan
    assert "BroadcastHashJoin" in plan  # base side broadcasts


def test_ring_knn_base_never_shuffles(spark):
    """s5 and the scaling flagship leave the broadcast to the planner; at
    sf0.01 it broadcasts one side of the ring-candidate join, so no
    exchange is keyed on the (cx, cy) cell pair (VERDICT r2 #4)."""
    import re

    from rlis2osm_spark.queries.scaling import scaling_flagship

    sf = "/root/testdata/sf0.01"
    for df in (Q["s5_knn_points"](spark, sf),
               scaling_flagship(spark, sf, mult=2)):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, plan
        assert not re.search(r"Exchange hashpartitioning\((cast\()?c[xy]#",
                             plan), plan


def test_ring_join_keys_are_not_cast(spark):
    """Both sides of the ring-candidate join key on bigint (cx, cy), so
    AQE's final plans of s5 and the scaling flagship cast neither side's
    keys; s5's answer is unchanged."""
    from rlis2osm_spark.queries.scaling import scaling_flagship

    sf = "/root/testdata/sf0.01"
    s5 = Q["s5_knn_points"](spark, sf)
    assert len(s5.collect()) == 13
    flagship = scaling_flagship(spark, sf, mult=2)
    flagship.collect()
    for df in (s5, flagship):
        plan = _plan(df)  # after the action: the final adaptive plan
        assert "cast(cx" not in plan and "cast(cy" not in plan, plan


def test_minhash_band_join_shuffles_on_bucket(spark):
    plan = _plan(Q["d3_minhash_lsh"](spark, SF))
    assert "band" in plan and "bucket" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_dissolve_single_cc_shuffle(spark):
    """The CC stage adds exactly one repartition exchange keyed on
    group_key (plus the agg exchanges) — no iterative shuffle storm."""
    from rlis2osm_spark.queries.rlis_python import rlis_dissolve_cc

    plan = _plan(rlis_dissolve_cc(spark, SF))
    assert plan.count("hashpartitioning(group_key") == 1


def test_knn_single_probe_exchange(spark):
    """VERDICT r1 #7: window + dedup share ONE hash exchange on the probe
    id — hashpartitioning(probe_id) appears exactly once, there is no
    exchange keyed on the (probe_id, base_id) pair, and the dedup runs
    above the rank window, over its top-k survivors only."""
    from rlis2osm_spark.spatial.joins import knn_join

    probe = spark.range(50).select(
        F.col("id").alias("pid"),
        (F.col("id") * 37.0 % 1000).alias("x"),
        (F.col("id") * 91.0 % 1000).alias("y"))
    base = spark.range(200).select(
        F.col("id").alias("bid"),
        (F.col("id") * 13.0 % 1000).alias("x1"),
        (F.col("id") * 29.0 % 1000).alias("y1"),
        (F.col("id") * 13.0 % 1000 + 5).alias("x2"),
        (F.col("id") * 29.0 % 1000 + 5).alias("y2"))
    df = knn_join(probe, base, k=2, res=6, probe_id="pid", base_id="bid")
    plan = _plan(df)
    assert plan.count("hashpartitioning(pid") == 1, plan
    assert "hashpartitioning(pid#" in plan
    assert plan.count("hashpartitioning(pid#") == 1
    # no pair-keyed exchange anywhere
    import re
    assert not re.search(r"hashpartitioning\(pid#\d+L?, bid", plan), plan
    # rank first, then dedup only the top-k survivors
    assert plan.index("HashAggregate") < plan.index("Window"), plan


def _python_rdd_scans(df) -> list[str]:
    """The RDD scans in df's executed plan whose lineage runs a Python RDD:
    what ``spark.createDataFrame(<list of rows>)`` plans, so that every
    action starts one Python task per core. (A ``localCheckpoint`` also
    plans ``Scan ExistingRDD``, but over blocks the JVM holds.)"""
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "RDDScanExec" and "PythonRDD" in node.rdd().toDebugString():
            found.append(node.toString())
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return found


def test_ann_topk_scans_no_python_rdd(spark):
    """The IVF centroid frame is an Arrow-built local relation: running
    ann_topk starts no Python task just to turn centroids into rows."""
    df = Q["ann_topk"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "LocalTableScan [cid" in plan, plan
    assert _python_rdd_scans(df) == [], plan


def test_semi_anti_join_plan_forms(spark):
    """The merged q04 must plan BOTH a real semi and a real anti join
    (no fan-out + distinct)."""
    p04 = _plan(Q["q04_semi_anti_join"](spark, SF))
    assert "LeftSemi" in p04, p04
    assert "LeftAnti" in p04, p04
    # both keep the partial-aggregation split on the count
    assert "partial_count" in p04 or "HashAggregate" in p04


def test_neardup_computes_lsh_buckets_once(spark):
    """d7's LSH leg (``similarity.cosine_neardup_pairs``) runs its bucket
    kernel once: one aggregate gathers each bucket's members, so no
    self-join computes the buckets again for its second side."""
    df = Q["d7_embedding_neardup"](spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("ArrowEvalPython [buckets(") == 1, final


def test_polygon_cell_join_is_cell_equijoin(spark):
    """The polygon JOIN's candidate stage is a (cx, cy) equi-join; the only
    Python is the per-candidate ray cast."""
    from rlis2osm_spark.spatial.joins import polygon_cell_join
    from rlis2osm_spark.spatial.tiles import TileGrid

    g = TileGrid()
    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        (g.x0 + (F.col("id") * 97.0) % 9000).alias("x"),
        (g.y0 + (F.col("id") * 71.0) % 9000).alias("y"))
    polys = spark.createDataFrame(
        [("p1", [{"x": g.x0 + 1000.0, "y": g.y0 + 1000.0},
                 {"x": g.x0 + 5000.0, "y": g.y0 + 1000.0},
                 {"x": g.x0 + 5000.0, "y": g.y0 + 5000.0},
                 {"x": g.x0 + 1000.0, "y": g.y0 + 5000.0}])],
        "polygon_id string, ring array<struct<x double, y double>>")
    plan = _plan(polygon_cell_join(pts, polys, res=8, grid=g, point_uid="pid"))
    assert "cx" in plan and "cy" in plan
    assert "Join" in plan
    assert plan.count("ArrowEvalPython") == 1  # ray cast only


def test_scaling_doc_probe_single_reassembly_exchange(spark, synth_dir):
    """The doc-path scaling probe must keep its single-exchange shape:
    one shuffle for the span reassembly, one for the 64-bucket rollup —
    and NO verification self-joins (the 3-way SMJ variant measured 0.52
    N->4N efficiency; review r3). (The expansion cross join is a
    BroadcastNestedLoopJoin — expected and allowed.)"""
    from rlis2osm_spark.queries.scaling import scaling_documents

    df = scaling_documents(spark, synth_dir, mult=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_fused_dissolve_single_shuffle(spark):
    """r5: the fused union-find+merge dissolve moves the payload through
    exactly ONE shuffle exchange (the group_key repartition) — the
    pre-r5 shape had three (node self-join, comps merge join, component
    groupBy)."""
    import re

    from test_dissolve import _combined_df, _seg

    from rlis2osm_spark.operators.dissolve import dissolve_ways

    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Oak", _seg(1, 0, 2, 0)),
        (2, "tertiary", "Elm", _seg(5, 5, 6, 6)),
    ])
    plan = dissolve_ways(df, approx_rows=1) \
        ._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert len(shuffles) == 1, plan
    assert "group_key" in shuffles[0]  # ...and it IS the group_key shuffle


@pytest.mark.parametrize("route", [
    dict(approx_rows=1), dict(approx_rows=10**9)],
    ids=["level0", "contracted"])
def test_ordered_dissolve_no_exchange_after_kernel(spark, route):
    """``dissolve_ways(ordered=True)`` sorts each of the kernel's
    partitions in place: no exchange and no range sampler between the
    Python kernel and the write, on the level-0 and contracted routes."""
    from test_dissolve import _combined_df, _seg

    from rlis2osm_spark.operators.dissolve import dissolve_ways

    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Oak", _seg(1, 0, 2, 0)),
        (2, "tertiary", "Elm", _seg(5, 5, 6, 6)),
    ])
    plan = _plan(dissolve_ways(df, ordered=True, **route))
    above_kernel = plan.split("InArrow")[0]
    assert "Sort [component_id" in above_kernel, plan
    assert "Exchange" not in above_kernel, plan
    assert "rangepartitioning" not in plan, plan
