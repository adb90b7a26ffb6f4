"""Way dissolve: merge connected same-tag segments (SURVEY §2.4 J3/J4,
§2.5 A1-A4; reference /root/reference/rlis2osm/dissolve.py).

The reference builds node maps in driver memory and runs a greedy
single-path BFS (dissolve.py:51-160) — the documented scalability wall. Here:

- **J3 endpoint index**: a LineString's endpoints are contiguous byte
  ranges of its WKB (bytes 10-25 and the last 16), so the node key is the
  raw 16-byte coordinate payload — byte equality IS the reference's
  exact-float-tuple equality (dissolve.py:144-145), no snapping. The
  kernels gather them from the Arrow buffers in one pass
  (``wkb.endpoint_slices_batch``).
- **J4 grouping = true connected components per tag-group**, not the
  reference's greedy BFS: CC is deterministic and parallel; the two coincide
  on fork-free topologies (SURVEY §7.3 hazard — goldens use those). On a
  forked topology CC merges the whole fork into one row where the reference
  stops at the junction; the divergence is pinned by a test, and
  reference-compatible grouping on forked topologies is not offered.
- **A1/A2 merge, fused with CC**: the payload reaches the merge kernel
  (``mapInArrow``) partitioned so that whole components sit together;
  way_id-ordered linemerge and first-row tags happen there, in one
  vectorized pass (``_merge_component_rows``).

One route serves every input size (``dissolve_ways``). From a bound on the
input's rows it picks a tile level L, the smallest with
``rows <= MAX_GROUP_ROWS * 4**L``. At L = 0 every tag-group fits a worker:
the payload repartitions by tag-group once and union-find plus merge run in
one kernel. Above it, degenerate groups (e.g. unnamed service roads
spanning a continent) are contracted over the level-L Morton cells of
``spatial/tiles.py`` in a fixed sequence of four steps — local components
per (group, cell), a native aggregate where labels meet at nodes, one
union-find over the meeting labels per group, and the merge keyed on the
component. No step loops on the driver, and the output equals the L = 0
route's byte for byte.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType,
)

from rlis2osm_spark.functions import wkb
from rlis2osm_spark.plans.iceberg_shim import file_row_counts
from rlis2osm_spark.schemas import COMBINED_FIELDS
from rlis2osm_spark.spatial.tiles import with_tile

_NULL_SENTINEL = "\x00<null>"

# rows one worker's union-find takes in one partition: the tag-group size
# bound below which a group needs no contraction
MAX_GROUP_ROWS = 250_000

_LOCAL_SCHEMA = StructType([
    StructField("group_key", LongType(), False),
    StructField("label", LongType(), False),
    StructField("node_f", BinaryType(), False),
    StructField("node_t", BinaryType(), False)])
_ROOT_SCHEMA = StructType([StructField("label", LongType(), False),
                           StructField("root", LongType(), False)])


def spark_partitions(df: DataFrame) -> int:
    """Session shuffle parallelism (the CC bucket count)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _tile_level(rows: int) -> int:
    """The smallest tile level L with ``rows <= MAX_GROUP_ROWS * 4**L``."""
    level = 0
    while rows > MAX_GROUP_ROWS * 4 ** level:
        level += 1
    return level


def _group_key(cols: list[str]) -> F.Column:
    """Tag-group hash: null-safe concat then xxhash64 (plain multi-column
    xxhash64 would collide ('a', null) with (null, 'a'))."""
    parts = [
        F.coalesce(F.col(f"`{c}`").cast("string"), F.lit(_NULL_SENTINEL))
        for c in cols
    ]
    return F.xxhash64(F.concat_ws("\x01", *parts))


def _cc_labels(u: np.ndarray, v: np.ndarray, m: int) -> np.ndarray:
    """Vectorized connected components over edges ``(u, v)`` on ``m``
    vertices (r6): iterated min-hooking + full pointer jumping
    (Shiloach–Vishkin shape) — O(edges) numpy work per round, O(log m)
    rounds, no per-edge Python. Returns the root label per vertex; roots
    are the minimum vertex index of each component, so labels are
    deterministic and arrival-order independent."""
    parent = np.arange(m, dtype=np.int64)
    while True:
        pu, pv = parent[u], parent[v]
        hi = np.maximum(pu, pv)
        lo = np.minimum(pu, pv)
        mask = hi != lo
        if not mask.any():
            return parent
        np.minimum.at(parent, hi[mask], lo[mask])
        while True:  # compress fully so hooks see roots next round
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp


def _group_node_ids(gk: np.ndarray, node_bits: np.ndarray,
                    ) -> tuple[np.ndarray, int]:
    """Dense ids for (group_key, 16-byte node) keys: ``node_bits`` is the
    node payload viewed as ``(rows, 2)`` int64 bit patterns (exact-byte
    equality — ±0.0 stay distinct, like the dict interning it replaces).
    Returns (per-row node index, number of distinct nodes)."""
    ids = pd.DataFrame({"g": gk, "a": node_bits[:, 0], "b": node_bits[:, 1]}
                       ).groupby(["g", "a", "b"], sort=False).ngroup()
    ids = ids.to_numpy(np.int64)
    return ids, int(ids.max()) + 1 if len(ids) else 0


def _partition_table(batches) -> pa.Table | None:
    """A mapInArrow partition as one table, one contiguous chunk per
    column, the geometry with 64-bit offsets (a partition's WKB payload may
    pass 2 GiB); None when it holds no rows."""
    batches = list(batches)
    if not any(b.num_rows for b in batches):
        return None
    table = pa.Table.from_batches(batches)
    i = table.schema.get_field_index("geometry")
    return table.set_column(
        i, "geometry", table["geometry"].cast(pa.large_binary())
    ).combine_chunks()


def _merge_partitions(dissolve_fields: list[str], components):
    """mapInArrow driver of the merge: a partition holds WHOLE components'
    payload rows, ``components(table)`` gives each row's component id,
    and ``_merge_component_rows`` emits one merged row per component."""

    def run(batches):
        table = _partition_table(batches)
        if table is not None:
            yield _merge_component_rows(table, components(table),
                                        dissolve_fields)

    return run


def _fused_components(keys: np.ndarray, ways: np.ndarray,
                      ends: np.ndarray) -> np.ndarray:
    """Per-row component ids: the min way_id of the ways that share an
    endpoint node under the same key, all numpy — ``ends`` is each row's
    ``(2, 16)`` endpoint payloads (``wkb.endpoint_slices_batch``),
    (key, node) pairs are densified, and CC runs over the bipartite
    way-node graph — no per-row Python."""
    way_codes, way_uniques = pd.factorize(ways)
    way_uniques = np.asarray(way_uniques, np.int64)
    n_ways = len(way_uniques)
    node_bits = ends.reshape(-1, 16).view("<i8")    # (2n, 2) int64
    node_idx, m = _group_node_ids(np.repeat(keys, 2), node_bits)
    # bipartite edges: each endpoint node -> its way vertex
    labels = _cc_labels(
        node_idx, m + np.repeat(way_codes.astype(np.int64), 2),
        m + n_ways)
    comp_way = labels[m + np.arange(n_ways)]
    min_way = np.full(m + n_ways, np.iinfo(np.int64).max, np.int64)
    np.minimum.at(min_way, comp_way, way_uniques)
    return min_way[comp_way][way_codes]


def _merge_component_rows(table: pa.Table, comp: np.ndarray,
                          dissolve_fields: list[str]) -> pa.RecordBatch:
    """Merge step of both dissolve levels: given payload rows
    (``_partition_table``) and a per-row component-id array, emit one merged
    row per component (way_id-ordered linemerge, first member's tags).
    Grouping is one stable lexsort + boundary scan; tags and single-member
    geometries are Arrow ``take``s and simple-path components merge in one
    batched pass (``_merge_paths``), so only a component with a fork, a
    cycle or a malformed member pays a Python linemerge."""
    order = np.lexsort((table["way_id"].to_numpy(), comp))  # stable
    comp_sorted = comp[order]
    bounds = np.flatnonzero(
        np.r_[True, comp_sorted[1:] != comp_sorted[:-1]])
    ends = np.r_[bounds[1:], len(order)]
    first_idx = order[bounds]               # min-way_id row per component
    n_members = ends - bounds
    geoms = table["geometry"].chunk(0)
    offs, data = wkb.binary_buffers(geoms)
    # the native guard pinned every header to (0x01, type=2, no flags); a
    # lone member whose length matches its declared point count is then
    # byte-identical to its own linemerge, so it passes through untouched
    head = offs[first_idx]
    size = offs[first_idx + 1] - head
    plain = size >= 9
    plain[plain] = size[plain] == 9 + 16 * wkb.u32_at(data, head[plain] + 5)
    merge = (n_members > 1) | ~plain
    is_path, paths = _merge_paths(
        data, offs, order[np.repeat(merge, n_members)], n_members[merge])
    merged = [
        wkb.linemerge_wkb([data[offs[i]:offs[i + 1]].tobytes()
                           for i in order[s:e]])
        for s, e in zip(bounds[merge][~is_path], ends[merge][~is_path])]
    at = np.empty(len(is_path), np.int64)  # pool index of each merged row
    at[is_path] = np.arange(len(paths))
    at[~is_path] = len(paths) + np.arange(len(merged))
    pick = first_idx.copy()
    pick[merge] = len(geoms) + at
    geom_out = pa.concat_arrays(
        [geoms, paths, pa.array(merged, pa.large_binary())]
    ).take(pick).cast(pa.binary())
    tags = table.select(dissolve_fields).take(first_idx)
    return pa.RecordBatch.from_arrays(
        [pa.array(comp_sorted[bounds], pa.int64()),
         *[tags[f].combine_chunks() for f in dissolve_fields],
         pa.array(n_members, pa.int32()), geom_out],
        names=["component_id", *dissolve_fields, "n_members", "geometry"])


def _merge_paths(data: np.ndarray, offs: np.ndarray, members: np.ndarray,
                 sizes: np.ndarray) -> tuple[np.ndarray, pa.Array]:
    """``wkb.linemerge_wkb`` over many components at once, for those whose
    members form one simple path (the usual street chain). ``members``
    lists each component's rows, ``sizes`` rows per component, in the
    linemerge input order; ``(data, offs)`` are the binary buffers.

    Returns ``(is_path, merged)``: which components are simple paths, and
    the merged LineString WKB of each of them, byte-identical to
    ``linemerge_wkb``. Each component's members must be connected through
    byte-equal endpoints, as dissolve components are. Nodes match by float
    equality as in ``linemerge`` (-0.0 == 0.0); a component with a NaN
    endpoint, a closed or malformed member, a fork or a cycle is not a
    path and is left to ``linemerge_wkb``. A path is walked as
    ``linemerge`` walks it: from the free end of its first member that has
    one, dropping each later member's first vertex. Positions along the
    walk come from pointer jumping over (member, exit end) states, so the
    Python loop runs once per doubling round, not per member."""
    n_mem, n_comp = len(members), len(sizes)
    comp = np.repeat(np.arange(n_comp), sizes)
    head = offs[members]
    size = offs[members + 1] - head
    ok = size >= 9
    cnt = np.zeros(n_mem, np.int64)
    cnt[ok] = wkb.u32_at(data, head[ok] + 5)
    # plain members only: their byte endpoints (which connected the
    # component) are then their first and last declared vertices
    ok &= (cnt >= 1) & (9 + 16 * cnt == size)
    ok[ok] = ((data[head[ok]] == 1)
              & (data[head[ok] + 1] == wkb.WKB_LINESTRING))
    # endpoint coordinates; -0.0 + 0.0 == 0.0 gives float-equality keys
    pos = np.stack([head + 9, head + 9 + 16 * (cnt - 1)], 1)[ok]
    xy = np.full((n_mem, 2, 2), np.nan)
    xy[ok] = data[pos[..., None] + np.arange(16)].view("<f8") + 0.0
    ok &= ~np.isnan(xy).any(axis=(1, 2))
    bits = xy.view("<i8").reshape(2 * n_mem, 2)
    node, n_nodes = _group_node_ids(np.repeat(comp, 2), bits)
    deg = np.bincount(node, minlength=n_nodes)
    node_comp = np.empty(n_nodes, np.int64)
    node_comp[node] = np.repeat(comp, 2)
    bad = ~ok | (node[0::2] == node[1::2])
    is_path = ((np.bincount(comp, bad, n_comp) == 0)
               & (np.bincount(node_comp, deg > 2, n_comp) == 0)
               & (np.bincount(node_comp, minlength=n_comp) == sizes + 1))
    in_path = is_path[comp]

    # member-end e of member m is entry 2m + e; a degree-2 node pairs its
    # two entries. State 2m + out leaves m by end ``out``; its successor
    # enters the partner member and leaves by that member's other end.
    ends_by_node = np.argsort(node, kind="stable")
    twin = node[ends_by_node[1:]] == node[ends_by_node[:-1]]
    partner = np.full(2 * n_mem, -1, np.int64)
    partner[ends_by_node[:-1][twin]] = ends_by_node[1:][twin]
    partner[ends_by_node[1:][twin]] = ends_by_node[:-1][twin]
    state = np.arange(2 * n_mem)
    live = (partner >= 0) & np.repeat(in_path, 2)
    nxt = np.where(live, partner ^ 1, state)
    dist = live.astype(np.int64)            # steps to the walk's end
    while True:
        jumped = nxt[nxt]
        if np.array_equal(jumped, nxt):
            break
        dist = dist + dist[nxt]
        nxt = jumped
    # linemerge starts at the first member with a free end, leaving by
    # its other end; the walk that ends back at that free end runs the
    # other way
    free = (partner[0::2] < 0) | (partner[1::2] < 0)
    cand = np.flatnonzero(free & in_path)
    new_comp = np.ones(len(cand), bool)
    new_comp[1:] = comp[cand][1:] != comp[cand][:-1]
    first = cand[new_comp]
    back_sink = np.zeros(n_comp, np.int64)
    back_sink[comp[first]] = 2 * first + (partner[2 * first] >= 0)
    out_end = (nxt[2 * np.arange(n_mem) + 1] != back_sink[comp]).astype(
        np.int64)
    step = sizes[comp] - 1 - dist[2 * np.arange(n_mem) + out_end]

    walk = np.flatnonzero(in_path)
    walk = walk[np.lexsort((step[walk], comp[walk]))]
    c = cnt[walk]
    n_vert = np.bincount(comp[walk], c, n_comp).astype(np.int64) - (sizes - 1)
    n_vert = n_vert[is_path]
    vm = np.repeat(np.arange(len(walk)), c)           # vertex -> member
    j = np.arange(len(vm)) - np.repeat(np.cumsum(c) - c, c)
    keep = (j > 0) | (step[walk][vm] == 0)
    j = np.where(out_end[walk][vm] == 1, j, c[vm] - 1 - j)[keep]
    src = head[walk][vm[keep]] + 9 + 16 * j
    out_size = 9 + 16 * n_vert
    out_offs = np.zeros(len(n_vert) + 1, np.int64)
    np.cumsum(out_size, out=out_offs[1:])
    out = np.empty(int(out_offs[-1]), np.uint8)
    starts = out_offs[:-1]
    out[starts] = 1
    out[(starts[:, None] + np.arange(1, 5)).ravel()] = np.tile(
        np.array([wkb.WKB_LINESTRING, 0, 0, 0], np.uint8), len(starts))
    out[(starts[:, None] + np.arange(5, 9)).ravel()] = (
        n_vert.astype("<u4").view(np.uint8))
    dst = (np.repeat(starts + 9, n_vert)
           + 16 * (np.arange(len(src))
                   - np.repeat(np.cumsum(n_vert) - n_vert, n_vert)))
    out[dst[:, None] + np.arange(16)] = data[src[:, None] + np.arange(16)]
    return is_path, pa.Array.from_buffers(
        pa.large_binary(), len(n_vert),
        [None, pa.py_buffer(out_offs), pa.py_buffer(out)])


def _fused_schema(df: DataFrame, dissolve_fields: list[str]) -> StructType:
    """Output StructType of the merge kernel, at every level."""
    schema_by_name = {f.name: f for f in df.schema.fields}
    return StructType(
        [StructField("component_id", LongType(), False)]
        + [StructField(c, schema_by_name[c].dataType, True)
           for c in dissolve_fields]
        + [StructField("n_members", IntegerType(), False),
           StructField("geometry", BinaryType(), True)])


def _dissolve_fused(df: DataFrame, dissolve_fields: list[str],
                    n_parts: int) -> DataFrame:
    """Level 0: one exchange. Whole tag-groups hash-partition WITH their
    payload; component-find and merge run inside the partition."""
    return (
        df.select("group_key", "way_id", *[F.col(f"`{c}`")
                                           for c in dissolve_fields],
                  "geometry")
        .repartition(n_parts, "group_key")
        .mapInArrow(
            _merge_partitions(
                dissolve_fields,
                lambda t: _fused_components(
                    t["group_key"].to_numpy(), t["way_id"].to_numpy(),
                    wkb.endpoint_slices_batch(t["geometry"].chunk(0)))),
            _fused_schema(df, dissolve_fields))
    )


def _dissolve_contracted(df: DataFrame, dissolve_fields: list[str],
                         n_parts: int, level: int) -> DataFrame:
    """Level L > 0: contract each tag-group over its level-L tile cells
    in four fixed steps (``dissolve_ways`` doc)."""
    # 1. local: components per (group, cell of the way's midpoint); a
    # way's label is the min way_id of its local component
    local = (
        with_tile(df.select("group_key", "way_id", "geometry"), level)
        .select("group_key", "way_id", "geometry",
                F.xxhash64("group_key", "cell").alias("cell_key"))
        # AQE sizes the inner exchanges; only the last one, whose
        # partitions become the output files, has a fixed count
        .repartition("cell_key")
        .mapInArrow(_local_labels, _LOCAL_SCHEMA))
    # 2. meet: per (group, node), the least label there and every label.
    # Both uses below read this one aggregate's exchange, so the local
    # kernel runs once.
    meet = (
        local.select("group_key", "label",
                     F.explode(F.array("node_f", "node_t")).alias("node"))
        .groupBy("group_key", "node")
        .agg(F.min("label").alias("least"),
             F.collect_set("label").alias("labels"))
        .select("group_key", "node", "least",
                F.explode("labels").alias("label")))
    # 3. resolve: an edge from each label to the least one at its node;
    # one union-find per group over those edges roots every label
    roots = (
        meet.where(F.col("label") != F.col("least"))
        .select("group_key", "label", "least")
        .repartition("group_key")
        .mapInArrow(_resolve_roots, _ROOT_SCHEMA))
    # 4. merge: a node's component is its least label's root; a way's is
    # its first node's, and one payload exchange on it brings every
    # component's rows together
    node_comp = (
        meet.where(F.col("label") == F.col("least"))
        .join(roots, "label", "left")
        .select("group_key", "node",
                F.coalesce("root", "label").alias("component_id")))
    return (
        df.select("group_key", "way_id",
                  *[F.col(f"`{c}`") for c in dissolve_fields], "geometry",
                  F.substring("geometry", 10, 16).alias("node"))
        .join(node_comp, ["group_key", "node"])
        .repartition(n_parts, "component_id")
        .mapInArrow(
            _merge_partitions(dissolve_fields,
                              lambda t: t["component_id"].to_numpy()),
            _fused_schema(df, dissolve_fields))
    )


def _node_array(ends: np.ndarray) -> pa.Array:
    """16-byte endpoint payloads as a binary array."""
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(16), len(ends),
        [None, pa.py_buffer(np.ascontiguousarray(ends))]
    ).cast(pa.binary())


def _local_labels(batches):
    """mapInArrow kernel of step 1: per row, its group_key, its local
    label — the component id under ``cell_key`` — and its two endpoint
    nodes as 16-byte binaries. No tag payload comes in."""
    table = _partition_table(batches)
    if table is None:
        return
    ends = wkb.endpoint_slices_batch(table["geometry"].chunk(0))
    label = _fused_components(table["cell_key"].to_numpy(),
                              table["way_id"].to_numpy(), ends)
    yield pa.RecordBatch.from_arrays(
        [table["group_key"].chunk(0), pa.array(label, pa.int64()),
         _node_array(ends[:, 0]), _node_array(ends[:, 1])],
        names=_LOCAL_SCHEMA.names)


def _resolve_roots(batches):
    """mapInArrow kernel of step 3: the partition's (label, least) edges,
    whole groups of them, resolved by ``_cc_labels``. Labels are way ids,
    unique across groups, so one pass serves every group here; each
    label's root is the least label of its component."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    edges = pa.Table.from_batches(batches)
    u = edges["label"].to_numpy()
    labels, idx = np.unique(
        np.concatenate([u, edges["least"].to_numpy()]), return_inverse=True)
    parent = _cc_labels(idx[:len(u)], idx[len(u):], len(labels))
    yield pa.RecordBatch.from_arrays(
        [pa.array(labels, pa.int64()), pa.array(labels[parent], pa.int64())],
        names=["label", "root"])


def dissolve_ways(
    combined: DataFrame,
    approx_rows: int | None = None,
    ordered: bool = False,
) -> DataFrame:
    """EP3: dissolve connected, identically-tagged ways into merged geometries.

    Input: the combine-stage output (lineage cols + COMBINED_FIELDS +
    geometry). Ways group on the COMBINED_FIELDS columns present, so to
    dissolve on a subset of tags (the reference's A4 field include/exclude
    lists) select those columns first. Output: one row per dissolve group
    with the group's tag columns and the linemerged geometry (A1), plus
    ``n_members`` lineage.
    Rejects MultiGeometries AND null geometries loudly, like the reference
    (dissolve.py:137-142 / its hard crash on missing geometry) — run
    ``explode_multipart`` first.

    One route serves every input size. It takes a bound on the input's
    rows — ``approx_rows`` (an Iceberg snapshot's record count, say), else
    the parquet footers when ``combined`` is a bare parquet scan (a
    ``Checkpointer.stage`` or ``spark.read.parquet`` result), else
    ``combined.count()`` — and works at tile level L, the smallest with
    ``rows <= MAX_GROUP_ROWS * 4**L``.
    The bound also sizes the exchange into the last kernel, whose
    partitions become the output files: ~50k rows each, at least 8, at
    most the session's shuffle partitions.

    - L = 0: no group can pass ``MAX_GROUP_ROWS``. The payload
      repartitions by tag-group once; union-find and merge run in one
      kernel per partition.
    - L > 0: four fixed steps, with no driver loop.
      1. *Local*: each way is keyed by its tag-group and the level-L
         Morton cell of its midpoint; union-find per key over
         (key, way_id, geometry), no tags, labels each way with the least
         way_id of its local component.
      2. *Meet*: a native aggregate over (group, endpoint node) emits an
         edge from each label meeting at a node to the least of them.
      3. *Resolve*: the edges repartition by group and one union-find per
         group roots each label at the least label of its component —
         exactly the L = 0 route's ``component_id``.
      4. *Merge*: each node takes its least label's root; the payload
         joins that on (group, first endpoint node) and takes one
         exchange on ``component_id`` into the merge kernel.

      Step 3 gets only int64 (group, label, least label) rows, one per
      extra label at each node where ways of different cells meet, and
      never any payload: no more of a group has to sit on one worker.
      The output is the same for any spatial layout — geometry outside
      the grid lands in its edge cells — and the layout only changes how
      the work is split.

    Grouping is true connected components per tag-group. On forked or
    cyclic topologies it merges more than the reference's greedy BFS; that
    divergence is pinned in
    tests/test_dissolve.py::test_dissolve_same_tag_fork_divergence_pin.

    ``ordered=True`` (r4) sorts each output partition by ``component_id``
    (unique per row, deterministic — min way_id of the component, itself
    a pure hash of source lineage), with no exchange after the kernel.
    The kernel's partitions are placed by hash, so the files a write
    produces and their contents are the same on every run, each sorted by
    ``component_id`` — the reference's output is deterministic by
    construction (/root/reference/rlis2osm/main.py:76-138). A ``collect()``
    is sorted within partitions, not globally. Leave False for
    set-semantics pipelines.
    """
    dissolve_fields = [c for c in COMBINED_FIELDS if c in combined.columns]

    # stable surrogate way id (monotonically_increasing_id is retry-unstable)
    df = combined.withColumn(
        "way_id",
        F.xxhash64(
            F.coalesce(F.col("src_table"), F.lit("?")),
            F.col("fid"),
            F.coalesce(F.col("part_idx"), F.lit(0)),
        ),
    ).withColumn("group_key", _group_key(dissolve_fields))

    # native guards: geometry must be present (the reference fails loudly
    # on missing geometry — no silent row loss) and the WKB type word must
    # be LineString (parity with its NotImplementedError on multigeometries)
    g = F.col("geometry")
    df = df.withColumn(
        "geometry",
        F.when(
            g.isNull(),
            F.raise_error(F.lit(
                "dissolve requires non-null geometry "
                "(filter or repair upstream)")),
        ).when(
            F.substring(g, 1, 5) != F.lit(bytes([1, 2, 0, 0, 0])),
            F.raise_error(F.lit(
                "dissolve does not support MultiGeometries; "
                "explode to single part first")),
        ).otherwise(g),
    )

    rows = approx_rows if approx_rows is not None else _footer_rows(combined)
    if rows is None:
        rows = combined.count()
    n_parts = min(spark_partitions(combined), max(8, rows // 50_000 + 1))
    level = _tile_level(rows)
    out = (_dissolve_fused(df, dissolve_fields, n_parts)
           if level == 0 else
           _dissolve_contracted(df, dissolve_fields, n_parts, level))
    return out.sortWithinPartitions("component_id") if ordered else out


def _footer_rows(df: DataFrame) -> int | None:
    """Total rows of a bare parquet scan (what ``Checkpointer.stage`` and
    ``spark.read.parquet`` return), read from its files' footers on the
    driver (``iceberg_shim.file_row_counts``, one metadata read per file);
    None for any other plan."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if (relation.getClass().getSimpleName() != "HadoopFsRelation"
            or relation.fileFormat().shortName() != "parquet"):
        return None
    counts = file_row_counts(df.inputFiles())
    return None if counts is None else sum(counts)
