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
  partition pass: a tag-group (one street name + identical tags) is
  city-sized, so a pandas group fits comfortably; the shuffle key is the
  tag-group hash, which is exactly the explicit-partitioning contract the
  north rule asks for.
- **A1/A2 merge, FUSED with CC (r5)**: when every group fits a worker the
  payload repartitions by group_key ONCE and union-find + way_id-ordered
  linemerge + first-row tags all happen inside that partition — the
  unfused shape (node self-join, comps merge join, component groupBy)
  moved the full payload through three exchanges and two sorts. The
  greedy compat mode is fused the same way (its applyInPandas grouping
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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StructField, StructType,
)

from rlis2osm_spark.functions import wkb
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
    trip = np.empty((len(gk), 3), np.int64)
    trip[:, 0] = gk
    trip[:, 1:] = node_bits
    rec = np.ascontiguousarray(trip).view(
        [("g", "<i8"), ("a", "<i8"), ("b", "<i8")]).ravel()
    uniq, inverse = np.unique(rec, return_inverse=True)
    return inverse, len(uniq)


def _fused_dissolve_partitions(dissolve_fields: list[str], geom_col: str,
                               field_kinds: dict[str, str]):
    """mapInPandas driver for the fused union-find + merge path (r5): a
    partition holds WHOLE tag-groups' payload rows; one pass slices the
    endpoint nodes straight from the WKB bytes (same 16-byte ranges the
    native substring path uses), unions same-node ways per group, then
    linemerges each component's way_id-ordered members and emits the
    merged row with the first member's tags — identical output to a
    separate components pass + ``_merge_components``, but the payload
    crosses the wire ONCE (the group_key repartition) instead of three
    times (node self-join exchange + merge-join exchange + component
    groupBy exchange)."""

    def run(frames):
        pdfs = [p for p in frames]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        comp = _fused_components(pdf, geom_col)
        yield _merge_component_rows(pdf, comp, dissolve_fields,
                                    geom_col, field_kinds)

    return run


def _fused_components(pdf: pd.DataFrame, geom_col: str) -> np.ndarray:
    """Per-payload-row component ids (min way_id of the endpoint-connected
    same-group ways — identical labels to the r1-r5 dict union-find), all
    numpy (r6): endpoint payloads sliced in one fancy-indexed gather
    (wkb.endpoint_slices_batch), (group_key, node) keys densified, CC over
    the bipartite way-node graph — no per-row Python."""
    way_ids = pdf["way_id"].to_numpy(np.int64)
    way_codes, way_uniques = pd.factorize(way_ids)
    way_uniques = np.asarray(way_uniques, np.int64)
    n_ways = len(way_uniques)
    ends = wkb.endpoint_slices_batch(
        [bytes(g) for g in pdf[geom_col]])          # (n, 2, 16) uint8
    node_bits = ends.reshape(-1, 16).view("<i8")    # (2n, 2) int64
    gk2 = np.repeat(pdf["group_key"].to_numpy(np.int64), 2)
    node_idx, m = _group_node_ids(gk2, node_bits)
    # bipartite edges: each endpoint node -> its way vertex
    labels = _cc_labels(
        node_idx, m + np.repeat(way_codes.astype(np.int64), 2),
        m + n_ways)
    comp_way = labels[m + np.arange(n_ways)]
    min_way = np.full(m + n_ways, np.iinfo(np.int64).max, np.int64)
    np.minimum.at(min_way, comp_way, way_uniques)
    return min_way[comp_way][way_codes]


def _merge_component_rows(pdf: pd.DataFrame, comp: np.ndarray,
                          dissolve_fields: list[str], geom_col: str,
                          field_kinds: dict[str, str]) -> pd.DataFrame:
    """Shared merge step of the fused dissolve paths: given payload rows
    and a per-row component-id array, emit one merged row per component
    (way_id-ordered linemerge, first member's tags). r6: grouping is one
    stable lexsort + boundary scan; only the linemerge itself (one call
    per OUTPUT component) remains Python."""
    ways = pdf["way_id"].to_numpy(np.int64)
    geoms = pdf[geom_col].to_numpy()
    order = np.lexsort((ways, comp))        # stable: ties keep row order
    comp_sorted = comp[order]
    bounds = np.flatnonzero(
        np.r_[True, comp_sorted[1:] != comp_sorted[:-1]])
    ends = np.r_[bounds[1:], len(order)]
    comp_ids = comp_sorted[bounds]
    first_idx = order[bounds]               # min-way_id row per component
    n_members = ends - bounds
    # r7 (guide §1.2 per-task work): most components are single-member on
    # real street topologies, and linemerge of ONE plain little-endian
    # LineString is byte-identical to its input (encode_linestring writes
    # exactly header+count+raw coords, decode reads the same bytes back) —
    # so the decode->concat->encode round trip is skipped when the blob's
    # header is exactly (0x01, type=2, no flag bits) and its length matches
    # the declared point count. Multi-member components and multi/flagged/
    # oversized blobs take the full merge path unchanged.
    merged = []
    for s, e in zip(bounds, ends):
        if e - s == 1:
            b = bytes(geoms[order[s]])
            if (b[:5] == b"\x01\x02\x00\x00\x00"
                    and len(b) == 9 + 16 * int.from_bytes(b[5:9], "little")):
                merged.append(b)
                continue
            merged.append(wkb.linemerge_wkb([b]))
            continue
        merged.append(
            wkb.linemerge_wkb([bytes(geoms[i]) for i in order[s:e]]))

    out = pd.DataFrame({"component_id": comp_ids})
    for f in dissolve_fields:
        s = pdf[f].iloc[first_idx].reset_index(drop=True)
        if field_kinds.get(f) == "int" and s.dtype.kind == "f":
            # Arrow hands nullable int columns to pandas as float64;
            # hand exact ints (or None) back so the declared schema
            # round-trips without an unsafe float cast
            s = s.map(lambda v: None if pd.isna(v) else int(v))
        out[f] = s.astype(object).where(s.notna(), None)
    out["n_members"] = pd.Series(n_members, dtype="int32")
    out[geom_col] = pd.Series(merged, dtype=object)
    return out


def _fused_schema(df: DataFrame, dissolve_fields: list[str],
                  geom_col: str):
    """(output StructType, field-kind map) shared by the fused paths."""
    from pyspark.sql.types import (ByteType, IntegerType, LongType as _Long,
                                   ShortType)

    integral = (ByteType, ShortType, IntegerType, _Long)
    schema_by_name = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [StructField("component_id", LongType(), False)]
        + [StructField(c, schema_by_name[c].dataType, True)
           for c in dissolve_fields]
        + [StructField("n_members", IntegerType(), False),
           StructField(geom_col, BinaryType(), True)])
    field_kinds = {
        c: ("int" if isinstance(schema_by_name[c].dataType, integral)
            else "other")
        for c in dissolve_fields
    }
    return out_schema, field_kinds


def _dissolve_fused(df: DataFrame, dissolve_fields: list[str],
                    geom_col: str, n_parts: int) -> DataFrame:
    """One-exchange dissolve for inputs whose tag-groups all fit a worker
    (the union-find contract): hash-partition whole groups WITH their
    payload, then component-find and merge inside the partition."""
    out_schema, field_kinds = _fused_schema(df, dissolve_fields, geom_col)
    return (
        df.select("group_key", "way_id", *[F.col(f"`{c}`")
                                           for c in dissolve_fields],
                  geom_col)
        .repartition(n_parts, "group_key")
        .mapInPandas(
            _fused_dissolve_partitions(dissolve_fields, geom_col,
                                       field_kinds),
            out_schema)
    )


def _fused_greedy_group(dissolve_fields: list[str], geom_col: str,
                        field_kinds: dict[str, str],
                        max_group_rows: int | None):
    """applyInPandas driver fusing the reference-greedy traversal with
    the component merge (r5): one tag-group's payload rows arrive
    together; endpoint edge rows are sliced from the WKB in-process,
    ``_greedy_components`` replays the reference BFS, and the merged
    rows are emitted directly — same one-payload-exchange shape as the
    union-find fused path (the unfused greedy paid the merge join +
    component groupBy exchanges on top of the applyInPandas shuffle)."""

    def run(_key, pdf):  # no hints: pyspark infers the grouped-map type
        edge = {"group_key": [], "order_key": [], "way_id": [],
                "node_idx": [], "node": []}
        for wid, okey, gk, g in zip(
            pdf["way_id"].to_numpy(), pdf["order_key"].to_numpy(),
            pdf["group_key"].to_numpy(), pdf[geom_col]
        ):
            b = bytes(g)
            for i, nd in enumerate((b[9:25], b[len(b) - 16:])):
                edge["group_key"].append(int(gk))
                edge["order_key"].append(okey)
                edge["way_id"].append(int(wid))
                edge["node_idx"].append(i)
                edge["node"].append(nd)
        comps = _greedy_components(pd.DataFrame(edge), max_group_rows)
        comp_of = dict(zip((int(w) for w in comps["way_id"]),
                           (int(c) for c in comps["component_id"])))
        comp = np.fromiter(
            (comp_of[int(w)] for w in pdf["way_id"].to_numpy()),
            dtype=np.int64, count=len(pdf))
        return _merge_component_rows(pdf, comp, dissolve_fields,
                                     geom_col, field_kinds)

    return run


def endpoint_nodes(df: DataFrame, geom_col: str = "geometry",
                   with_idx: bool = False,
                   extra_cols: list[str] | None = None) -> DataFrame:
    """J3: explode each way into two (way_id, node) rows, node = raw 16-byte
    coordinate payload sliced natively from the WKB. ``with_idx`` also emits
    ``node_idx`` (0 = from-node, 1 = to-node) for order-sensitive consumers
    (the greedy frontier); ``extra_cols`` are carried through."""
    f_node = F.expr(f"substring({geom_col}, 10, 16)")
    t_node = F.expr(
        f"substring({geom_col}, length({geom_col}) - 15, 16)")
    carry = list(extra_cols or [])
    if with_idx:
        return df.select(
            "way_id", *carry,
            F.posexplode(F.array(f_node, t_node)).alias("node_idx", "node"),
        )
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

    ``algorithm="auto"`` (default) counts rows per tag-group first (one
    cheap map-side-combined agg) and routes groups above ``max_group_rows``
    — the degenerate-skew hazard, e.g. unnamed service roads spanning the
    whole extent — to the iterative large-star/small-star CC, everything
    else to the per-partition union-find. "unionfind"/"iterative" force one
    path (tests, known-shaped inputs).

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
    union-find without the extra count job.

    ``ordered=True`` (r4, VERDICT r3 #4) totally orders the output by
    ``component_id`` (unique per row, deterministic — min way_id of the
    component, itself a pure hash of source lineage), so two identical runs
    produce byte-identical sink files for display/diff consumers — the
    reference's output is deterministic by construction
    (/root/reference/rlis2osm/main.py:76-138). Costs one extra range-sort
    exchange, and the range partitioner's sampling job re-executes the
    stage that feeds it, so the fused ``mapInPandas`` dissolve stage runs
    twice (once to sample, once to write the shuffle). Leave False for
    set-semantics pipelines.
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

    if algorithm not in ("auto", "greedy", "unionfind", "iterative"):
        raise ValueError(
            f"unknown algorithm {algorithm!r}; expected one of "
            "'auto', 'greedy', 'unionfind', 'iterative'")

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
        out_schema, field_kinds = _fused_schema(df, dissolve_fields,
                                                geom_col)
        out = (
            df.withColumn("order_key", order_key)
            .select("group_key", "order_key", "way_id",
                    *[F.col(f"`{c}`") for c in dissolve_fields], geom_col)
            .groupBy("group_key")
            .applyInPandas(
                _fused_greedy_group(dissolve_fields, geom_col,
                                    field_kinds, max_group_rows),
                out_schema)
        )
        return out.orderBy("component_id") if ordered else out

    n_parts = max(spark_partitions(combined), 8)
    if approx_rows is not None:
        # size the CC shuffle to the data: ~50k node rows per partition,
        # never above the session parallelism (tiny inputs stop paying
        # 64-task overhead; 100 TB inputs still spread fully)
        n_parts = max(8, min(n_parts, approx_rows // 50_000 + 1))

    def fused(frame):
        out = _dissolve_fused(frame, dissolve_fields, geom_col, n_parts)
        return out.orderBy("component_id") if ordered else out

    if algorithm == "unionfind" or (
            algorithm == "auto" and approx_rows is not None
            and approx_rows <= max_group_rows):
        # every group fits a worker (by contract / by the approx_rows
        # bound short-circuiting auto) -> the FUSED one-exchange path
        # (r5): payload repartitions by group_key once; union-find and
        # linemerge happen inside the partition. The unfused shape paid
        # two more full-payload exchanges (merge join + component
        # groupBy) plus their sorts.
        return fused(df)

    # group_key rides through the endpoint explode (narrow projection) —
    # joining it back on way_id would be a full sort-merge self-join of the
    # node frame against the input, i.e. two extra exchanges of every node
    # row before the one repartition CC actually needs (r5)
    nodes = endpoint_nodes(df, geom_col, extra_cols=["group_key"])
    if algorithm == "iterative":
        comps = _comps_iterative(nodes, df.select("way_id"))
    else:  # auto: route only degenerate groups to the iterative path.
        # NOTE: the routing decision needs the group-size distribution, so
        # "auto" runs ONE planning-time Spark job here (map-side-combined
        # count + the big-key collect). Plan-only callers that must stay
        # action-free should pass algorithm="unionfind" or approx_rows.
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
                f"{max_group_rows}; raise the threshold or use "
                "algorithm='iterative'")
        if not big_keys:
            return fused(df)
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
        big_n = nodes.join(bk, "group_key", "left_semi")
        comps_big = _comps_iterative(big_n, big_df_rows.select("way_id"))
        out = _dissolve_fused(
            small_df, dissolve_fields, geom_col, n_parts
        ).unionByName(_merge_components(
            big_df_rows, comps_big, dissolve_fields, geom_col))
        return out.orderBy("component_id") if ordered else out

    return _merge_components(df, comps, dissolve_fields, geom_col,
                             ordered=ordered)


def _merge_components(df: DataFrame, comps: DataFrame,
                      dissolve_fields: list[str],
                      geom_col: str, ordered: bool = False) -> DataFrame:
    """A1/A2: per-component fid-ordered collect + Arrow linemerge + first-row
    tags (equal within group by construction, reference dissolve.py:81-82)."""
    with_comp = df.join(comps, "way_id")

    @F.pandas_udf(BinaryType())
    def merge_geoms(geom_lists: pd.Series) -> pd.Series:
        return geom_lists.map(
            lambda gl: wkb.linemerge_wkb([bytes(g) for g in gl]))

    out = (
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
    # component_id is unique per output row and a pure hash of source
    # lineage, so this total order is identical across runs (VERDICT r3 #4)
    return out.orderBy("component_id") if ordered else out
