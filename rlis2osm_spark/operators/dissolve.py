"""Way dissolve: merge connected same-tag segments (SURVEY §2.4 J3/J4,
§2.5 A1-A4; reference /root/reference/rlis2osm/dissolve.py).

The reference builds node maps in driver memory and runs a greedy
single-path BFS (dissolve.py:51-160) — the documented scalability wall. Here:

- **J3 endpoint index, zero UDF**: a LineString's endpoints are contiguous
  byte ranges of its WKB (`substring(geom, 10, 16)` / last 16 bytes), so the
  node key is the raw 16-byte coordinate payload — byte equality IS the
  reference's exact-float-tuple equality (dissolve.py:144-145), no snapping,
  and the whole index pass stays inside WholeStageCodegen.
- **J4 grouping = true connected components per tag-group**, not the
  reference's greedy BFS: CC is deterministic and parallel; the two coincide
  on fork-free topologies (SURVEY §7.3 hazard — goldens use those). An
  exact greedy-BFS emulation (``algorithm="greedy"``, r3) covers users who
  need byte-parity with reference output on forked topologies.
  Components are computed with a per-group union-find inside an Arrow
  partition pass (``mapInArrow``, reading the WKB straight from the
  binary column's buffers): a tag-group (one street name + identical
  tags) is city-sized, so a group fits a worker comfortably; the shuffle
  key is the tag-group hash, which is exactly the explicit-partitioning
  contract the north rule asks for.
- **A1/A2 merge, FUSED with CC (r5)**: when every group fits a worker the
  payload repartitions by group_key ONCE and union-find + way_id-ordered
  linemerge + first-row tags all happen inside that partition — the
  unfused shape (node self-join, comps merge join, component groupBy)
  moved the full payload through three exchanges and two sorts. The
  greedy compat mode is fused the same way (its applyInArrow grouping
  IS the one payload exchange). Routed degenerate groups still use
  groupBy component -> sorted collect_list -> Arrow-batched linemerge
  after iterative CC.

Scale notes (100 TB): degenerate groups (e.g. unnamed service roads
spanning a continent) are the skew risk. ``algorithm="auto"`` measures
group sizes first (one map-side-combined count) and routes any group above
``max_group_rows`` to the O(log^2 n) large-star/small-star iterative CC
(cc_iterative.py) while the rest take the cheap per-partition union-find —
no caller tuning required, and both paths are proven equivalent in
tests/test_dissolve.py.
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

_NULL_SENTINEL = "\x00<null>"


def spark_partitions(df: DataFrame) -> int:
    """Session shuffle parallelism (the CC bucket count)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _define_filter_fields(all_fields: list[str], fields=None, exclude=False):
    """A4 parity (dissolve.py:104-122): validate + resolve dissolve columns."""
    if fields:
        for f in fields:
            if f not in all_fields:
                raise ValueError(
                    f'supplied field: "{f}", does not exist in the input')
        if exclude:
            return [f for f in all_fields if f not in fields]
        return list(fields)
    return list(all_fields)


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


def _arrow_input(table: pa.Table, geom_col: str) -> pa.Table:
    """One contiguous chunk per column; geometry gets 64-bit offsets, since
    a partition's WKB payload may pass 2 GiB."""
    i = table.schema.get_field_index(geom_col)
    return table.set_column(
        i, geom_col, table[geom_col].cast(pa.large_binary())
    ).combine_chunks()


def _fused_dissolve_partitions(dissolve_fields: list[str], geom_col: str):
    """mapInArrow driver for the fused union-find + merge path (r5): a
    partition holds WHOLE tag-groups' payload rows; one pass slices the
    endpoint nodes straight from the WKB buffer (same 16-byte ranges the
    native substring path uses), unions same-node ways per group, then
    linemerges each component's way_id-ordered members and emits the
    merged row with the first member's tags — identical output to a
    separate components pass + ``_merge_components``, but the payload
    crosses the wire ONCE (the group_key repartition) instead of three
    times (node self-join exchange + merge-join exchange + component
    groupBy exchange)."""

    def run(batches):
        batches = list(batches)
        if not any(b.num_rows for b in batches):
            return
        table = _arrow_input(pa.Table.from_batches(batches), geom_col)
        comp = _fused_components(table, geom_col)
        yield _merge_component_rows(table, comp, dissolve_fields, geom_col)

    return run


def _fused_components(table: pa.Table, geom_col: str) -> np.ndarray:
    """Per-payload-row component ids (min way_id of the endpoint-connected
    same-group ways — identical labels to the r1-r5 dict union-find), all
    numpy (r6): endpoint payloads gathered from the WKB buffer in one
    fancy-indexed pass (wkb.endpoint_slices_batch), (group_key, node) keys
    densified, CC over the bipartite way-node graph — no per-row Python."""
    way_codes, way_uniques = pd.factorize(table["way_id"].to_numpy())
    way_uniques = np.asarray(way_uniques, np.int64)
    n_ways = len(way_uniques)
    ends = wkb.endpoint_slices_batch(table[geom_col].chunk(0))  # (n, 2, 16)
    node_bits = ends.reshape(-1, 16).view("<i8")    # (2n, 2) int64
    gk2 = np.repeat(table["group_key"].to_numpy(), 2)
    node_idx, m = _group_node_ids(gk2, node_bits)
    # bipartite edges: each endpoint node -> its way vertex
    labels = _cc_labels(
        node_idx, m + np.repeat(way_codes.astype(np.int64), 2),
        m + n_ways)
    comp_way = labels[m + np.arange(n_ways)]
    min_way = np.full(m + n_ways, np.iinfo(np.int64).max, np.int64)
    np.minimum.at(min_way, comp_way, way_uniques)
    return min_way[comp_way][way_codes]


def _merge_component_rows(table: pa.Table, comp: np.ndarray,
                          dissolve_fields: list[str],
                          geom_col: str) -> pa.RecordBatch:
    """Shared merge step of the fused dissolve paths: given payload rows
    (``_arrow_input``) and a per-row component-id array, emit one merged
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
    geoms = table[geom_col].chunk(0)
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
        names=["component_id", *dissolve_fields, "n_members", geom_col])


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


def _fused_schema(df: DataFrame, dissolve_fields: list[str],
                  geom_col: str) -> StructType:
    """Output StructType shared by the fused paths."""
    schema_by_name = {f.name: f for f in df.schema.fields}
    return StructType(
        [StructField("component_id", LongType(), False)]
        + [StructField(c, schema_by_name[c].dataType, True)
           for c in dissolve_fields]
        + [StructField("n_members", IntegerType(), False),
           StructField(geom_col, BinaryType(), True)])


def _dissolve_fused(df: DataFrame, dissolve_fields: list[str],
                    geom_col: str, n_parts: int) -> DataFrame:
    """One-exchange dissolve for inputs whose tag-groups all fit a worker
    (the union-find contract): hash-partition whole groups WITH their
    payload, then component-find and merge inside the partition."""
    return (
        df.select("group_key", "way_id", *[F.col(f"`{c}`")
                                           for c in dissolve_fields],
                  geom_col)
        .repartition(n_parts, "group_key")
        .mapInArrow(
            _fused_dissolve_partitions(dissolve_fields, geom_col),
            _fused_schema(df, dissolve_fields, geom_col))
    )


def _fused_greedy_group(dissolve_fields: list[str], geom_col: str,
                        max_group_rows: int | None):
    """applyInArrow driver fusing the reference-greedy traversal with
    the component merge (r5): one tag-group's payload rows arrive
    together; endpoint edge rows are sliced from the WKB buffer,
    ``_greedy_components`` replays the reference BFS, and the merged
    rows are emitted directly — same one-payload-exchange shape as the
    union-find fused path (the unfused greedy paid the merge join +
    component groupBy exchanges on top of the grouped shuffle)."""

    def run(table):
        table = _arrow_input(table, geom_col)
        n = table.num_rows
        ways = table["way_id"].to_numpy()
        ends = wkb.endpoint_slices_batch(table[geom_col].chunk(0))
        comps = _greedy_components(pd.DataFrame({
            "group_key": np.repeat(table["group_key"].to_numpy(), 2),
            "order_key": np.repeat(
                table["order_key"].to_numpy(zero_copy_only=False), 2),
            "way_id": np.repeat(ways, 2),
            "node_idx": np.tile([0, 1], n),
            "node": list(ends.reshape(2 * n, 16)),
        }), max_group_rows)
        comp_ways = comps["way_id"].to_numpy(np.int64)
        by_way = np.argsort(comp_ways)
        comp = comps["component_id"].to_numpy(np.int64)[by_way][
            np.searchsorted(comp_ways[by_way], ways)]
        return pa.Table.from_batches([_merge_component_rows(
            table, comp, dissolve_fields, geom_col)])

    return run


def endpoint_nodes(df: DataFrame, geom_col: str = "geometry",
                   extra_cols: list[str] | None = None) -> DataFrame:
    """J3: explode each way into two (way_id, node) rows, node = raw 16-byte
    coordinate payload sliced natively from the WKB; ``extra_cols`` are
    carried through."""
    f_node = F.expr(f"substring({geom_col}, 10, 16)")
    t_node = F.expr(
        f"substring({geom_col}, length({geom_col}) - 15, 16)")
    carry = list(extra_cols or [])
    return df.select(
        "way_id", *carry,
        F.explode(F.array(f_node, t_node)).alias("node"),
    )


def _greedy_components(pdf: pd.DataFrame,
                       max_group_rows: int | None = None) -> pd.DataFrame:
    """Exact emulation of the reference's greedy single-path BFS
    (/root/reference/rlis2osm/dissolve.py:51-160) over (group_key, order_key,
    way_id, node) edge rows — the r3 compat mode for users diffing against a
    real rlis2osm run on forked/cyclic topologies (VERDICT r2 "missing" #5).

    Faithful semantics: ways visited in source order (order_key =
    src_table + fid + part_idx — source fids can collide ACROSS tables in
    the combined frame); the frontier is a LIFO of group end nodes; popping
    a node scans its connected ways in visit order and extends the group
    with the FIRST unassigned same-tag way only (break), adding that way's
    non-shared endpoints. Node keys normalize -0.0 to 0.0 per coordinate —
    the reference interns float TUPLES, where -0.0 == 0.0; the raw WKB
    byte key would split that node. The global algorithm decomposes
    exactly per tag-group (cross-tag ways are skipped by the tag-equality
    check), so whole groups parallelize across partitions while each group
    replays the reference's traversal. ``max_group_rows`` guards the
    degenerate-group hazard loudly: greedy is inherently sequential per
    group, so there is NO iterative fallback for oversized groups."""
    from struct import pack, unpack

    def norm_node(b: bytes) -> bytes:
        x, y = unpack("<2d", b)
        return pack("<2d", x + 0.0, y + 0.0)  # -0.0 + 0.0 == 0.0

    out_ways: list[int] = []
    out_comps: list[int] = []
    for _gk, g in pdf.groupby("group_key", sort=False):
        if max_group_rows is not None and len(g) > 2 * max_group_rows:
            raise ValueError(
                f"greedy dissolve: tag-group with {len(g) // 2} ways "
                f"exceeds max_group_rows={max_group_rows}; the reference "
                "traversal is sequential per group (no iterative fallback) "
                "— raise the cap or use algorithm='auto'")
        tagged: dict[int, list[tuple[int, bytes]]] = {}
        order: dict[int, str] = {}
        for way_id, okey, nidx, node in zip(
            g["way_id"].to_numpy(), g["order_key"].to_numpy(),
            g["node_idx"].to_numpy(), g["node"]
        ):
            w = int(way_id)
            tagged.setdefault(w, []).append((int(nidx), norm_node(bytes(node))))
            order[w] = str(okey)
        per_way = {w: [n for _, n in sorted(pairs)]
                   for w, pairs in tagged.items()}
        fids = sorted(per_way, key=lambda w: (order[w], w))
        node_way: dict[bytes, list[int]] = {}
        for w in fids:  # insertion in fid order = reference map order
            for n in per_way[w]:
                node_way.setdefault(n, []).append(w)
        assigned: set[int] = set()
        for seed in fids:
            if seed in assigned:
                continue
            comp = seed
            assigned.add(seed)
            members = [seed]
            frontier = list(per_way[seed])
            while frontier:
                n = frontier.pop()
                for cand in node_way[n]:
                    if cand in assigned:
                        continue
                    assigned.add(cand)
                    members.append(cand)
                    frontier.extend(cn for cn in per_way[cand] if cn != n)
                    break
            out_ways.extend(members)
            out_comps.extend([comp] * len(members))
    return pd.DataFrame({"way_id": out_ways, "component_id": out_comps})


def _comps_iterative(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """O(log^2 n) large-star/small-star CC over DataFrame self-joins — the
    path for groups too large for one worker (cc_iterative.py). ``ways``
    supplies singleton ways so isolated members keep a component."""
    from rlis2osm_spark.operators.cc_iterative import connected_components

    node_ids = nodes.withColumn("node_id", F.xxhash64("group_key", "node"))
    pairs = (
        node_ids.alias("a")
        .join(node_ids.alias("b"),
              (F.col("a.node_id") == F.col("b.node_id"))
              & (F.col("a.way_id") < F.col("b.way_id")))
        .select(F.col("a.way_id").alias("u"),
                F.col("b.way_id").alias("v"))
    )
    all_ways = ways.select(F.col("way_id").alias("u"),
                           F.col("way_id").alias("v"))
    return connected_components(pairs.union(all_ways)).select(
        F.col("node").alias("way_id"),
        F.col("component").alias("component_id"))


def dissolve_ways(
    combined: DataFrame,
    fields: list[str] | None = None,
    exclude: bool = False,
    geom_col: str = "geometry",
    algorithm: str = "auto",
    max_group_rows: int = 250_000,
    approx_rows: int | None = None,
    ordered: bool = False,
) -> DataFrame:
    """EP3: dissolve connected, identically-tagged ways into merged geometries.

    Input: the combine-stage output (lineage cols + COMBINED_FIELDS +
    geometry). Output: one row per dissolve group with the group's tag
    columns and the linemerged geometry (A1), plus ``n_members`` lineage.
    Rejects MultiGeometries AND null geometries loudly, like the reference
    (dissolve.py:137-142 / its hard crash on missing geometry) — run
    ``explode_multipart`` first.

    ``algorithm="auto"`` (default) routes groups above ``max_group_rows``
    — the degenerate-skew hazard, e.g. unnamed service roads spanning the
    whole extent — to the iterative large-star/small-star CC, everything
    else to the per-partition union-find. To find them it counts rows per
    tag-group first (one cheap map-side-combined agg), unless a total-row
    bound at or under the cap is known: ``approx_rows``, or, when
    ``combined`` is a bare parquet scan (a ``Checkpointer.stage`` or
    ``spark.read.parquet`` result), the row counts in its files' parquet
    footers.

    ``algorithm="greedy"`` (r3) is the reference-compat mode: it replays
    the reference's greedy single-path BFS exactly — including on forked /
    cyclic topologies where true CC merges more aggressively — so a user
    diffing against a real rlis2osm run gets identical grouping
    (differential-pinned in tests/test_dissolve_differential.py). Whole
    tag-groups still parallelize across workers.

    ``approx_rows`` (r3, VERDICT r2 #5) short-circuits the auto planning
    job: when the caller knows a total-row upper bound <= max_group_rows
    (parquet footer metadata, an Iceberg snapshot's record count — free at
    any scale), NO group can exceed the cap, so auto routes straight to
    union-find without the extra count job. It defaults to the footer
    count of a bare parquet input (above); the bound also sizes the
    union-find shuffle.

    ``ordered=True`` (r4, VERDICT r3 #4) totally orders the output by
    ``component_id`` (unique per row, deterministic — min way_id of the
    component, itself a pure hash of source lineage), so row order is
    fixed for display/diff consumers — the reference's output is
    deterministic by construction (/root/reference/rlis2osm/main.py:76-138).
    Where that order is cut into files is not fixed: Spark's range
    partitioner seeds its sample with the RDD id, so once an input
    partition holds more rows than the sample takes, two runs in one
    session can split the same rows differently. Costs one hash exchange
    plus one range exchange of the output rows; the Python kernel runs
    once (see ``_total_order``). Leave False for set-semantics pipelines.
    """
    tag_fields = [c for c in COMBINED_FIELDS if c in combined.columns]
    dissolve_fields = _define_filter_fields(tag_fields, fields, exclude)

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
    g = F.col(geom_col)
    df = df.withColumn(
        geom_col,
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

    if algorithm not in ("auto", "greedy"):
        raise ValueError(
            f"unknown algorithm {algorithm!r}; expected 'auto' or 'greedy'")

    if approx_rows is None:
        approx_rows = _footer_rows(combined)
    n_parts = max(spark_partitions(combined), 8)
    if approx_rows is not None:
        # size the CC shuffle to the data: ~50k node rows per partition,
        # never above the session parallelism (tiny inputs stop paying
        # 64-task overhead; 100 TB inputs still spread fully)
        n_parts = max(8, min(n_parts, approx_rows // 50_000 + 1))

    def finish(out):
        return _total_order(out, n_parts) if ordered else out

    if algorithm == "greedy":
        # source visit order = (src_table, fid, part_idx), the reference's
        # ways.items() iteration (fids can COLLIDE across source tables in
        # the combined frame, so the table name leads the key); node_idx
        # pins the (f, t) frontier order, which the shuffle would otherwise
        # scramble (greedy traversal is order-SENSITIVE, unlike union-find).
        # The lpad encoding is only order-preserving for 0 <= fid < 10^12
        # (and 0 <= part_idx < 10^6) — outside that range the string sort
        # would silently drift from the numeric visit order, so guard
        # loudly (ADVICE r3).
        fid_ok = (F.col("fid") >= 0) & (F.col("fid") < F.lit(10 ** 12))
        part_ok = (F.coalesce(F.col("part_idx"), F.lit(0)) >= 0) & (
            F.coalesce(F.col("part_idx"), F.lit(0)) < F.lit(10 ** 6))
        order_key = F.concat_ws(
            "\x00",
            F.coalesce(F.col("src_table"), F.lit("?")),
            F.when(fid_ok, F.lpad(F.col("fid").cast("string"), 12, "0"))
            .otherwise(F.raise_error(F.lit(
                "greedy dissolve: fid outside [0, 10^12) breaks the "
                "reference visit-order encoding"))),
            F.when(part_ok,
                   F.lpad(F.coalesce(F.col("part_idx"), F.lit(0))
                          .cast("string"), 6, "0"))
            .otherwise(F.raise_error(F.lit(
                "greedy dissolve: part_idx outside [0, 10^6) breaks the "
                "reference visit-order encoding"))))
        return finish(
            df.withColumn("order_key", order_key)
            .select("group_key", "order_key", "way_id",
                    *[F.col(f"`{c}`") for c in dissolve_fields], geom_col)
            .groupBy("group_key")
            .applyInArrow(
                _fused_greedy_group(dissolve_fields, geom_col,
                                    max_group_rows),
                _fused_schema(df, dissolve_fields, geom_col))
        )

    if approx_rows is not None and approx_rows <= max_group_rows:
        # every group fits a worker (the approx_rows bound short-circuits
        # the routing job) -> the FUSED one-exchange path (r5): payload
        # repartitions by group_key once; union-find and linemerge happen
        # inside the partition. The unfused shape paid two more
        # full-payload exchanges (merge join + component groupBy) plus
        # their sorts.
        return finish(_dissolve_fused(df, dissolve_fields, geom_col,
                                      n_parts))

    # auto: route only degenerate groups to the iterative path.
    # NOTE: the routing decision needs the group-size distribution, so
    # "auto" runs ONE planning-time Spark job here (map-side-combined
    # count + the big-key collect) unless a row bound came from the caller
    # or the input's parquet footers.
    sizes = df.groupBy("group_key").agg(F.count("*").alias("_gsz"))
    big_df = sizes.filter(F.col("_gsz") > max_group_rows).select(
        "group_key")
    # degenerate groups are by definition FEW (> max_group_rows each),
    # so the key set collects to the driver once. Guard: cap the collect
    # at 100k keys (pathological inputs fail loudly, not driver-OOM).
    big_keys = [r.group_key
                for r in big_df.limit(100_001).collect()]
    if len(big_keys) > 100_000:
        raise ValueError(
            "more than 100k tag-groups exceed max_group_rows="
            f"{max_group_rows}; raise the threshold")
    if not big_keys:
        return finish(_dissolve_fused(df, dissolve_fields, geom_col,
                                      n_parts))
    # route via a broadcast-joined key frame, NOT isin literals:
    # 100k literals would inflate every downstream plan and task
    # closure (ADVICE r2); a local-list DataFrame broadcasts once.
    # Small groups take the fused path; degenerate groups go through
    # iterative CC + the unfused merge (their payload cannot sit on
    # one worker, so the component groupBy exchange is unavoidable
    # there).
    spark = combined.sparkSession
    bk = F.broadcast(spark.createDataFrame(
        [(k,) for k in big_keys], "group_key long"))
    small_df = df.join(bk, "group_key", "left_anti")
    big_df_rows = df.join(bk, "group_key", "left_semi")
    # group_key rides through the endpoint explode (narrow projection) —
    # joining it back on way_id would be a full sort-merge self-join of the
    # node frame against the input, i.e. two extra exchanges of every node
    # row before the one repartition CC actually needs (r5)
    big_n = endpoint_nodes(df, geom_col, extra_cols=["group_key"]).join(
        bk, "group_key", "left_semi")
    comps_big = _comps_iterative(big_n, big_df_rows.select("way_id"))
    return finish(_dissolve_fused(
        small_df, dissolve_fields, geom_col, n_parts
    ).unionByName(_merge_components(
        big_df_rows, comps_big, dissolve_fields, geom_col)))


def _total_order(out: DataFrame, n_parts: int) -> DataFrame:
    """``ordered=True``'s total order on ``component_id``. A global sort
    directly above a Python node makes the range partitioner's sampling
    job run that node again; the hash exchange first turns the kernel's
    output into a shuffle stage of its own, so the sampler reads the
    stage's shuffle files instead."""
    return out.repartition(n_parts, "component_id").orderBy("component_id")


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


def _merge_components(df: DataFrame, comps: DataFrame,
                      dissolve_fields: list[str], geom_col: str) -> DataFrame:
    """A1/A2: per-component fid-ordered collect + Arrow linemerge + first-row
    tags (equal within group by construction, reference dissolve.py:81-82)."""
    with_comp = df.join(comps, "way_id")

    @F.pandas_udf(BinaryType())
    def merge_geoms(geom_lists: pd.Series) -> pd.Series:
        return geom_lists.map(
            lambda gl: wkb.linemerge_wkb([bytes(g) for g in gl]))

    return (
        with_comp.groupBy("component_id")
        .agg(
            *[F.first(F.col(f"`{c}`")).alias(c) for c in dissolve_fields],
            F.sort_array(
                F.collect_list(F.struct("way_id", F.col(geom_col)))
            ).alias("_members"),
        )
        .withColumn("n_members", F.size("_members"))
        .withColumn(
            geom_col,
            merge_geoms(F.transform("_members", lambda m: m[geom_col])),
        )
        .drop("_members")
    )
