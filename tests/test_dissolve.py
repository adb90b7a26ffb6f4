"""Dissolve goldens (FIXTURES.md §6.5; reference dissolve.py). Topologies are
fork-free so greedy-BFS and true-CC semantics coincide (SURVEY §7.3)."""

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rlis2osm_spark.functions.wkb import (
    decode_lines,
    decode_linestring,
    encode_linestring,
    linemerge,
)
from rlis2osm_spark.operators.dissolve import dissolve_ways
from rlis2osm_spark.schemas import COMBINED_FIELDS
from rlis2osm_spark.spatial.tiles import TileGrid


def _combined_df(spark, rows):
    """rows: (fid, highway, name, wkb)"""
    recs = []
    for fid, hw, name, geom in rows:
        rec = {c: None for c in COMBINED_FIELDS}
        rec.update({"src_table": "streets", "fid": fid, "part_idx": 0,
                    "highway": hw, "name": name, "geometry": geom})
        recs.append(rec)
    pdf = pd.DataFrame(recs)
    pdf["layer"] = pdf["layer"].astype("object")
    schema = ("src_table string, fid long, part_idx int, "
              + ", ".join(f"`{c}` {'int' if c == 'layer' else 'string'}"
                          for c in COMBINED_FIELDS)
              + ", geometry binary")
    cols = ["src_table", "fid", "part_idx"] + COMBINED_FIELDS + ["geometry"]
    return spark.createDataFrame(pdf[cols], schema=schema)


def _seg(x0, y0, x1, y1):
    return encode_linestring([(x0, y0), (x1, y1)])


def test_linemerge_chain():
    out = linemerge([
        np.array([[0.0, 0.0], [1.0, 0.0]]),
        np.array([[1.0, 0.0], [2.0, 0.0]]),
        np.array([[2.0, 0.0], [3.0, 0.0]]),
    ])
    assert len(out) == 1
    assert out[0][0].tolist() == [0.0, 0.0]
    assert out[0][-1].tolist() == [3.0, 0.0]


def test_linemerge_reversed_and_disjoint():
    out = linemerge([
        np.array([[1.0, 0.0], [0.0, 0.0]]),  # reversed member still merges
        np.array([[1.0, 0.0], [2.0, 0.0]]),
        np.array([[9.0, 9.0], [9.0, 10.0]]),  # disjoint -> second part
    ])
    assert len(out) == 2
    lens = sorted(len(p) for p in out)
    assert lens == [2, 3]


def test_dissolve_basic_topology(spark):
    """A,B,C same tags chain -> merged; D different highway at shared node
    -> alone (dissolve.py:81-82)."""
    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Oak", _seg(1, 0, 2, 0)),
        (2, "residential", "Oak", _seg(2, 0, 3, 0)),
        (3, "service", "Oak", _seg(1, 0, 1, 1)),
    ])
    out = dissolve_ways(df).collect()
    assert len(out) == 2
    by_hw = {r.highway: r for r in out}
    assert by_hw["residential"].n_members == 3
    merged = decode_linestring(bytes(by_hw["residential"].geometry))
    assert {tuple(merged[0]), tuple(merged[-1])} == {(0.0, 0.0), (3.0, 0.0)}
    assert by_hw["service"].n_members == 1


def test_dissolve_exact_float_equality(spark):
    """(1.0000001, 0) must NOT merge with (1.0, 0) — no snapping
    (dissolve.py:144-145)."""
    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Oak", encode_linestring([(1.0000001, 0.0), (2.0, 0.0)])),
    ])
    out = dissolve_ways(df).collect()
    assert len(out) == 2


def test_dissolve_null_vs_empty_tags_distinct(spark):
    """null and '' are different tag values for grouping."""
    df = _combined_df(spark, [
        (0, "residential", None, _seg(0, 0, 1, 0)),
        (1, "residential", "", _seg(1, 0, 2, 0)),
    ])
    assert len(dissolve_ways(df).collect()) == 2


def test_dissolve_fields_subset(spark):
    """Projecting the tags to ['highway'] merges across differing names
    (A4 field list): the groups are the COMBINED_FIELDS present."""
    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Elm", _seg(1, 0, 2, 0)),
    ])
    out = dissolve_ways(df.select("src_table", "fid", "part_idx", "highway",
                                  "geometry")).collect()
    assert len(out) == 1 and out[0].n_members == 2
    assert out[0].asDict().keys() == {
        "component_id", "highway", "n_members", "geometry"}


def test_dissolve_exclude(spark):
    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Elm", _seg(1, 0, 2, 0)),
    ])
    # dropping name (A4 exclude list) -> merge; dropping nothing -> no merge
    assert len(dissolve_ways(df.drop("name")).collect()) == 1
    assert len(dissolve_ways(df).collect()) == 2


def test_dissolve_synth_end_to_end(spark, synth_dir):
    """Chains in the synthetic streets dissolve into fewer ways; members
    conserved."""
    from rlis2osm_spark.operators.combine import combine

    streets = spark.read.parquet(f"{synth_dir}/streets.parquet")
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet")
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    combined = combine(streets, trails, bikes)
    dissolved = dissolve_ways(combined)
    n_in = combined.count()
    rows = dissolved.collect()
    assert sum(r.n_members for r in rows) == n_in
    assert len(rows) < n_in  # some merging happened
    # every merged geometry decodes
    for r in rows[:50]:
        assert decode_lines(bytes(r.geometry))


def test_dissolve_iterative_matches_unionfind(spark, synth_dir, tmp_path):
    """Forced contraction gives the same rows as the level-0 union-find
    route: component_id, tags, n_members and geometry bytes. A row bound
    of 10**12 puts the route at tile level 11, whose cells (195 units) are
    shorter than every synthetic member (200-800), so every chain crosses
    cells at every joint."""
    from rlis2osm_spark.operators.combine import combine
    from rlis2osm_spark.plans.checkpoint import Checkpointer

    streets = spark.read.parquet(f"{synth_dir}/streets.parquet")
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet")
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    combined = Checkpointer(spark, str(tmp_path)).stage(
        "combined", lambda: combine(streets, trails, bikes))
    assert _rows(dissolve_ways(combined, approx_rows=10**12).collect()) == (
        _rows(dissolve_ways(combined).collect()))


def test_dissolve_null_geometry_raises(spark):
    """ADVICE r1: null geometry must fail loudly (reference crashes on
    missing geometry), not silently drop rows from the output."""
    from pyspark.errors import SparkRuntimeException

    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Oak", None),
    ])
    with pytest.raises(SparkRuntimeException, match="non-null geometry"):
        dissolve_ways(df).collect()


def _rows(rows) -> list:
    """Collected output rows as sorted tuples, geometry as bytes."""
    return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                        else v for v in r) for r in rows)


# inside TileGrid's extent; forced contraction (approx_rows=10**9) works
# at tile level 6, whose cells are 6,250 units wide
_X0, _Y0 = TileGrid().x0, TileGrid().y0


def test_dissolve_auto_routes_degenerate_group(spark):
    """A degenerate tag-group (the 'unnamed service road' skew shape)
    through forced contraction gives the level-0 route's rows. Every
    member is longer than a cell, so both chains cross cells at every
    joint."""
    rows = [(i, "service", None,
             _seg(_X0 + 1000 + 6500 * i, _Y0 + 1000,
                  _X0 + 1000 + 6500 * (i + 1), _Y0 + 1000))
            for i in range(60)]
    rows += [(100 + i, "service", None,
              _seg(_X0 + 1000, _Y0 + 200_000 + 6500 * i,
                   _X0 + 1000, _Y0 + 200_000 + 6500 * (i + 1)))
             for i in range(10)]
    # plus small healthy groups
    rows.append((200, "residential", "Oak", _seg(_X0, _Y0, _X0 + 7000, _Y0)))
    rows.append((201, "residential", "Oak",
                 _seg(_X0 + 7000, _Y0, _X0 + 14000, _Y0)))
    rows.append((202, "tertiary", "Elm",
                 _seg(_X0 + 5, _Y0 + 5, _X0 + 6, _Y0 + 6)))
    df = _combined_df(spark, rows)

    # ordered=True over contraction: the level-0 route's rows, each
    # partition sorted by component_id, and every Python node run once
    # (midpoints, local labels, roots, merge)
    d1 = dissolve_ways(df, approx_rows=10**9, ordered=True).withColumn(
        "pid", F.spark_partition_id())
    o1 = d1.collect()
    assert _rows(r[:-1] for r in o1) == _rows(
        dissolve_ways(df, approx_rows=len(rows)).collect())
    nodes = _python_nodes(d1)
    assert sorted(n for n, _ in nodes) == [
        "ArrowEvalPythonExec", "MapInArrowExec", "MapInArrowExec",
        "MapInArrowExec"]
    received = [n_rows for _, n_rows in nodes]
    for once in (len(rows), len(rows), len(o1)):
        received.remove(once)
    for pid in {r.pid for r in o1}:
        ids = [r.component_id for r in o1 if r.pid == pid]
        assert ids == sorted(ids)
    # the degenerate group really did split into its two chains
    assert sorted(r.n_members for r in o1 if r.highway == "service") == [
        10, 60]


def _graph_ways(spark, edges, seed):
    """One tag-group whose ways are the graph's edges: every node gets an
    arbitrary point inside TileGrid's extent, edge (u, v) is the
    LineString u -> v and a self-loop (u, u) the closed way u -> q -> u.
    Returns the frame and each way's vertices."""
    rng = np.random.default_rng(seed)
    grid = TileGrid()
    point = {}

    def at(n):
        if n not in point:
            point[n] = tuple(float(c) for c in (
                grid.x0, grid.y0) + rng.random(2) * grid.extent)
        return point[n]

    verts = [[at(u), at(v)] if u != v else [at(u), at(("q", i)), at(u)]
             for i, (u, v) in enumerate(edges)]
    df = _combined_df(spark, [(i, "service", None, encode_linestring(vs))
                              for i, vs in enumerate(verts)])
    return df, verts


def _union_find_components(edges, verts) -> list:
    """(n_members, vertex set) per component of ways sharing a node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    comps = {}
    for (u, _), vs in zip(edges, verts):
        n, seen = comps.get(find(u), (0, frozenset()))
        comps[find(u)] = (n + 1, seen | set(vs))
    return sorted((n, sorted(vs)) for n, vs in comps.values())


def _dissolved_components(rows) -> list:
    return sorted((r.n_members, sorted({
        tuple(p) for part in decode_lines(bytes(r.geometry)) for p in part}))
        for r in rows)


@pytest.mark.parametrize("seed,n_nodes,n_edges", [
    (1, 30, 20), (2, 60, 60), (3, 100, 40), (4, 50, 120),
])
def test_dissolve_contraction_matches_union_find(spark, seed, n_nodes,
                                                 n_edges):
    """Random graphs (self-loops, parallel ways and isolated ways
    included) through forced contraction: the components of a Python
    union-find, and the level-0 route's rows."""
    rng = np.random.RandomState(seed)
    edges = [(int(a), int(b))
             for a, b in rng.randint(0, n_nodes, size=(n_edges, 2))]
    df, verts = _graph_ways(spark, edges, seed)
    rows = dissolve_ways(df, approx_rows=10**9).collect()
    assert _dissolved_components(rows) == _union_find_components(
        edges, verts)
    assert _rows(rows) == _rows(dissolve_ways(df).collect())


def test_dissolve_contraction_long_chain(spark):
    """A 20,000-way chain — the diameter killer for label propagation —
    dissolves into one component through forced contraction, with the
    same exchanges and the same number of jobs as a 200-way chain: the
    route's shape does not depend on the graph."""
    from rlis2osm_spark.spatial.tiles import TileGrid  # noqa: F811

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")

    def run(n):
        df, _ = _graph_ways(spark, [(i, i + 1) for i in range(n)], n)
        out = dissolve_ways(df, approx_rows=10**9)
        before = set(tracker.getJobIdsForGroup(group))
        rows = out.collect()
        jobs = set(tracker.getJobIdsForGroup(group)) - before
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "localCheckpoint" not in plan and "ExistingRDD" not in plan
        return rows, len(jobs), sorted(re.findall(
            r"Exchange (?:hashpartitioning\(([a-z_]+)|(SinglePartition))",
            plan))

    small, small_jobs, small_exchanges = run(200)
    rows, jobs, exchanges = run(20_000)
    assert [r.n_members for r in small] == [200]
    assert [r.n_members for r in rows] == [20_000]
    assert (jobs, exchanges) == (small_jobs, small_exchanges)


def test_dissolve_contraction_self_loops_and_isolated(spark):
    """A closed way alone, a closed way on a chain, and an isolated way
    each keep their components through forced contraction."""
    edges = [(5, 5), (7, 8), (9, 9), (9, 10), (10, 11)]
    df, verts = _graph_ways(spark, edges, 0)
    rows = dissolve_ways(df, approx_rows=10**9).collect()
    assert sorted(r.n_members for r in rows) == [1, 1, 3]
    assert _dissolved_components(rows) == _union_find_components(
        edges, verts)


def test_dissolve_plans_checkpoint_input_without_a_job(spark, synth_dir,
                                                      tmp_path):
    """Over a bare parquet input (a ``Checkpointer.stage`` read) auto
    takes its row bound from the parquet footers, so planning the dissolve
    starts no Spark job (over ``createDataFrame`` input, with no
    ``approx_rows``, it counts the rows first)."""
    from rlis2osm_spark.operators.combine import combine
    from rlis2osm_spark.plans.checkpoint import Checkpointer

    streets, trails, bikes = (
        spark.read.parquet(f"{synth_dir}/{n}.parquet")
        for n in ("streets", "trails", "bike_routes"))
    combined = Checkpointer(spark, str(tmp_path)).stage(
        "combined", lambda: combine(streets, trails, bikes))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(tracker.getJobIdsForGroup(group))
    dissolve_ways(combined, ordered=True)
    assert set(tracker.getJobIdsForGroup(group)) <= before


def _python_nodes(df) -> list:
    """``(class name, pythonNumRowsReceived)`` of every Python node in
    df's executed plan, walking into AQE's query stages. After one action
    a node's count is the rows its kernel produced, so a node that ran
    again (say, in a range partitioner's sampling job) counts its rows
    twice, and a node planned twice appears twice."""
    nodes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metric = node.metrics().get("pythonNumRowsReceived")
        if metric.isDefined():
            nodes.append((name, metric.get().value()))
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return nodes


def _python_rows_received(df) -> int:
    """``pythonNumRowsReceived`` summed over df's Python nodes."""
    return sum(n_rows for _, n_rows in _python_nodes(df))


def test_ordered_dissolve_runs_kernel_once(spark):
    """``ordered=True`` sorts the kernel's output without running the
    kernel again (the contracted route is checked in
    test_dissolve_auto_routes_degenerate_group)."""
    rows = [(4 * street + k, "residential", f"S{street % 25}",
             _seg(k, street, k + 1, street))
            for street in range(100) for k in range(4)]
    out = dissolve_ways(_combined_df(spark, rows), ordered=True)
    n = len(out.collect())
    assert n == 100  # one component per 4-segment street
    assert _python_rows_received(out) == n


def test_dissolve_same_tag_fork_divergence_pin(spark):
    """ADVICE r1: pins the intended divergence from the reference on
    same-tag forks. The reference's greedy single-path BFS
    (dissolve.py:74-93) breaks at a T-junction and emits 2+ features; true
    connected components merge the fork into ONE feature whose geometry
    linemerges into 2 parts (a through-line + the stub). This is the
    documented, deliberate semantic (operators/dissolve.py module doc).
    A 4-arm star, where the reference takes one arm per frontier pop,
    merges into one component too."""
    df = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 1, 0)),
        (1, "residential", "Oak", _seg(1, 0, 2, 0)),
        (2, "residential", "Oak", _seg(1, 0, 1, 1)),  # stub at the junction
    ])
    out = dissolve_ways(df).collect()
    assert len(out) == 1 and out[0].n_members == 3
    parts = decode_lines(bytes(out[0].geometry))
    # GEOS-linemerge semantics: a degree-3 node blocks merging, so all three
    # member segments survive as parts of the single dissolved feature
    assert len(parts) == 3
    endpoints = {tuple(p[0]) for p in parts} | {tuple(p[-1]) for p in parts}
    assert (1.0, 1.0) in endpoints  # the stub is present, not dropped

    star = _combined_df(spark, [
        (0, "residential", "Oak", _seg(0, 0, 10, 0)),
        (1, "residential", "Oak", _seg(10, 0, 20, 5)),
        (2, "residential", "Oak", _seg(10, 0, 20, -5)),
        (3, "residential", "Oak", _seg(10, 0, 20, 0)),
    ])
    assert [r.n_members for r in dissolve_ways(star).collect()] == [4]


def test_ordered_dissolve_byte_identical_sinks(spark, tmp_path):
    """``ordered=True`` (r4, VERDICT r3 #4): two identical runs must produce
    byte-identical sink artifacts — parquet AND .osm fragments — so display/
    diff consumers see stable output like the reference's (its output order
    is deterministic by construction). Unordered set-semantics stay the
    default (no sort shuffle)."""
    import glob
    import os

    from rlis2osm_spark.operators.osm_sink import write_osm_xml

    rows = [(i, "residential", f"Street {i % 7}",
             _seg(float(i), 0.0, float(i) + 1.0, 0.0)) for i in range(60)]
    df = _combined_df(spark, rows)

    def run(out_tag):
        d = dissolve_ways(df.select("src_table", "fid", "part_idx",
                                    "highway", "name", "geometry"),
                          ordered=True)
        pq_dir = str(tmp_path / f"pq_{out_tag}")
        d.write.mode("overwrite").parquet(pq_dir)
        osm_dir = str(tmp_path / f"osm_{out_tag}")
        sink = d.select(
            "geometry",
            F.map_from_arrays(F.array(F.lit("highway"), F.lit("name")),
                              F.array("highway", "name")).alias("tags"))
        write_osm_xml(sink, osm_dir).collect()
        return pq_dir, osm_dir

    def file_bytes(d, pattern):
        # part filenames embed per-run UUIDs; the part INDEX prefix is the
        # stable identity, so compare contents in part-index order
        files = sorted(glob.glob(os.path.join(d, pattern)),
                       key=os.path.basename)
        return [open(f, "rb").read() for f in files]

    pq1, osm1 = run("a")
    pq2, osm2 = run("b")
    assert file_bytes(pq1, "part-*.parquet") == file_bytes(pq2, "part-*.parquet")
    osm_a = file_bytes(osm1, "part-*.osm")
    osm_b = file_bytes(osm2, "part-*.osm")
    assert osm_a and osm_a == osm_b


def test_cc_labels_matches_reference_union_find():
    """r6: the vectorized Shiloach–Vishkin-style CC (_cc_labels) must
    produce the same partition as a plain dict union-find on random
    graphs — including self-loops, duplicate edges, and isolated
    vertices."""
    from rlis2osm_spark.operators.dissolve import _cc_labels

    rng = np.random.default_rng(20260817)
    for trial in range(25):
        m = int(rng.integers(1, 400))
        n_edges = int(rng.integers(0, 2 * m))
        u = rng.integers(0, m, n_edges)
        v = rng.integers(0, m, n_edges)

        parent = list(range(m))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(u, v):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = np.array([find(i) for i in range(m)])
        # reference roots are NOT guaranteed minimal per component under
        # path order; canonicalize both sides by min vertex per component
        canon = {}
        for i, r in enumerate(expect):
            canon[r] = min(canon.get(r, i), i)
        expect = np.array([canon[r] for r in expect])

        got = _cc_labels(u.astype(np.int64), v.astype(np.int64), m)
        assert np.array_equal(got, expect), f"trial {trial}"


def test_merge_paths_matches_linemerge():
    """The batched simple-path merge is byte-identical to linemerge_wkb on
    every component it takes (chains of shuffled, randomly reversed
    multi-vertex members, ±0.0 junctions, parallel members), and leaves
    forks, cycles, closed members and NaN endpoints to linemerge_wkb."""
    from rlis2osm_spark.functions import wkb
    from rlis2osm_spark.operators.dissolve import _merge_paths

    rng = np.random.default_rng(1)

    def component(kind):
        n = int(rng.integers(1, 7))
        pts = (rng.integers(0, 3, (n + 1, 2)).astype(float) if kind == 5
               else np.cumsum(rng.normal(size=(n + 1, 2)), 0))
        if kind == 4:  # junctions that differ only in the sign of zero
            pts[rng.integers(0, n + 1)] = [-0.0, 0.0]
            pts[rng.integers(0, n + 1)] = [0.0, -0.0]
        lines = []
        for i in range(n):
            line = np.vstack([pts[i], rng.normal(size=(rng.integers(0, 3), 2)),
                              pts[i + 1]])
            lines.append(line[::-1] if rng.random() < 0.5 else line)
        if kind == 1 and n >= 2:
            lines.append(np.vstack([pts[0], pts[-1]]))         # cycle
        if kind == 2 and n >= 2:
            lines.append(np.vstack([pts[1], pts[1] + 5]))      # fork
        if kind == 3:
            lines[0][0] = np.nan
        return [encode_linestring(lines[i])
                for i in rng.permutation(len(lines))]

    comps = [component(i % 6) for i in range(600)]
    flat = [g for c in comps for g in c]
    offs, data = wkb.binary_buffers(pa.array([b"x"] + flat).slice(1))
    is_path, merged = _merge_paths(data, offs, np.arange(len(flat)),
                                   np.array([len(c) for c in comps]))
    assert len(merged) == is_path.sum() > 200
    for c, got in zip([c for c, p in zip(comps, is_path) if p], merged):
        assert got.as_py() == wkb.linemerge_wkb(c)
    for kind in (1, 2, 3):  # cycles, forks and NaN endpoints fall back
        assert not any(p for i, p in enumerate(is_path)
                       if i % 6 == kind and len(comps[i]) > 2)


def test_endpoint_slices_batch_matches_substring():
    from rlis2osm_spark.functions.wkb import endpoint_slices_batch

    geoms = [
        _seg(0.5, -1.25, 3.0, 4.75),
        encode_linestring([(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)]),
        _seg(-0.0, 0.0, 1e300, -1e-300),
    ]
    out = endpoint_slices_batch(pa.array(geoms, pa.binary()))
    assert out.shape == (3, 2, 16)
    for i, g in enumerate(geoms):
        assert out[i, 0].tobytes() == g[9:25]
        assert out[i, 1].tobytes() == g[len(g) - 16:]
    # a sliced array starts at a non-zero offset into the same buffers
    assert np.array_equal(
        endpoint_slices_batch(pa.array(geoms, pa.binary()).slice(1)),
        out[1:])
    import pytest as _pytest
    with _pytest.raises(ValueError):
        endpoint_slices_batch(pa.array([b"\x01\x02\x00\x00\x00"]))
