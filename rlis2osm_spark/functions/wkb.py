"""Minimal WKB geometry codec + line operations (no GIS dependency).

The reference manipulates geometries through shapely GeoJSON mappings
(/root/reference/rlis2osm/main.py:132-135, dissolve.py:37-43); shapely is not
available here, and at 100 TB scale geometry must travel as a splittable
columnar payload anyway — so the engine's wire format is **WKB in a
BinaryType column**, decoded only inside Arrow-batched Python kernels.

Implements: 2-D Point / LineString / MultiLineString little-endian WKB
encode/decode, per-blob and whole-Arrow-buffer (``*_batch``) forms of
endpoint and vertex extraction, multipart explode (ST_Dump equivalent for
E1, main.py:131-138), and ``linemerge`` (shapely.ops.linemerge equivalent for
A1, dissolve.py:41) as a deterministic endpoint chain-walk.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_MULTILINESTRING = 5

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def encode_linestring(coords) -> bytes:
    arr = np.asarray(coords, dtype="<f8")
    return _HDR.pack(1, WKB_LINESTRING) + _U32.pack(len(arr)) + arr.tobytes()


def encode_multilinestring(lines) -> bytes:
    parts = [encode_linestring(c) for c in lines]
    return _HDR.pack(1, WKB_MULTILINESTRING) + _U32.pack(len(parts)) + b"".join(parts)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _read_header(buf: bytes, off: int) -> tuple[int, int]:
    byte_order, gtype = _HDR.unpack_from(buf, off)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    return gtype & 0xFF, off + _HDR.size  # mask off any SRID/Z flags


def geom_type(wkb: bytes) -> int:
    return _read_header(wkb, 0)[0]


def _decode_linestring_at(buf: bytes, off: int) -> tuple[np.ndarray, int]:
    gtype, off = _read_header(buf, off)
    if gtype != WKB_LINESTRING:
        raise ValueError(f"not a linestring: type {gtype}")
    (n,) = _U32.unpack_from(buf, off)
    off += 4
    coords = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return coords, off + 16 * n


def decode_linestring(wkb: bytes) -> np.ndarray:
    return _decode_linestring_at(wkb, 0)[0]


def decode_lines(wkb: bytes) -> list[np.ndarray]:
    """Return list of coordinate arrays; 1 element for LineString, N for Multi."""
    gtype, off = _read_header(wkb, 0)
    if gtype == WKB_LINESTRING:
        (n,) = _U32.unpack_from(wkb, off)
        coords = np.frombuffer(wkb, dtype="<f8", count=2 * n, offset=off + 4)
        return [coords.reshape(n, 2)]
    if gtype == WKB_MULTILINESTRING:
        (n_parts,) = _U32.unpack_from(wkb, off)
        off += 4
        out = []
        for _ in range(n_parts):
            coords, off = _decode_linestring_at(wkb, off)
            out.append(coords)
        return out
    raise ValueError(f"unsupported geometry type {gtype}")


def explode_parts(wkb: bytes) -> list[bytes]:
    """E1: MultiLineString -> single-part WKBs; single part passes through
    (semantics of main.py:131-138)."""
    if geom_type(wkb) == WKB_MULTILINESTRING:
        return [encode_linestring(c) for c in decode_lines(wkb)]
    return [wkb]


# ---------------------------------------------------------------------------
# batch decode straight from Arrow binary buffers
# ---------------------------------------------------------------------------

def binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy views of a pyarrow ``binary``/``large_binary`` array:
    ``(offsets, data)``, where row ``i``'s bytes are
    ``data[offsets[i]:offsets[i + 1]]`` (int64 offsets, uint8 data). A null
    row's range is meaningless; callers mask nulls with ``arr.is_valid()``."""
    off_type = "<i8" if pa.types.is_large_binary(arr.type) else "<i4"
    _validity, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, off_type)[arr.offset:arr.offset + len(arr) + 1]
    data = (np.frombuffer(dbuf, np.uint8) if dbuf is not None
            else np.empty(0, np.uint8))
    return offs.astype(np.int64), data


def u32_at(data: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Little-endian uint32 at each byte position (unaligned-safe)."""
    return (data[pos[:, None] + np.arange(4)].view("<u4").ravel()
            .astype(np.int64))


_POINT_RECORD = np.dtype(  # packed: the 21 bytes of one WKB Point
    [("order", "u1"), ("type", "<u4"), ("x", "<f8"), ("y", "<f8")])


def encode_points_batch(xs: np.ndarray, ys: np.ndarray) -> pa.Array:
    """WKB Points of whole coordinate arrays: a binary array built as one
    packed record buffer."""
    rec = np.empty(len(xs), _POINT_RECORD)
    rec["order"] = 1
    rec["type"] = WKB_POINT
    rec["x"] = xs
    rec["y"] = ys
    offsets = np.arange(len(xs) + 1, dtype="<i4") * _POINT_RECORD.itemsize
    return pa.Array.from_buffers(
        pa.binary(), len(xs),
        [None, pa.py_buffer(offsets), pa.py_buffer(rec)])


def endpoint_slices_batch(geoms: pa.Array) -> np.ndarray:
    """Vectorized endpoint extraction over a binary array of single-part
    LineString WKBs: returns ``(n, 2, 16)`` uint8 — each geometry's
    first- and last-vertex 16-byte coordinate payloads, the exact ranges
    the native ``substring(geom, 10, 16)`` slices (the dissolve's merge
    join keys a way by its first one). One fancy-indexed gather from the
    array's data buffer; no Python object per row. It does not validate
    geometry type — callers guard multi/null geometries upstream
    (operators/dissolve.py)."""
    offs, data = binary_buffers(geoms)
    n = len(geoms)
    if (np.diff(offs) < 25).any():
        raise ValueError("WKB LineString shorter than one vertex")
    pos = np.empty(2 * n, np.int64)
    pos[0::2] = offs[:-1] + 9   # first vertex: after 1+4+4 header
    pos[1::2] = offs[1:] - 16   # last vertex: final 16 bytes
    return data[pos[:, None] + np.arange(16)].reshape(n, 2, 16)


def vertices_batch(geoms: pa.Array
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every vertex of a binary array of Point / LineString /
    MultiLineString WKBs, gathered from its buffers with no Python object
    per row: ``(coords, counts, types)`` — ``(V, 2)`` float64 vertices in
    row and part order, each row's vertex count (0 for a null row) and its
    geometry type (0 for a null row). A Point is one vertex.

    Decodes like ``decode_lines``: little-endian only, type word masked
    to its low byte, trailing bytes ignored. Raises ValueError on any
    other type or a blob shorter than its header declares. Parts are
    walked by part index across all multi rows at once, so the Python
    loop runs once per part position, not per row."""
    offs, data = binary_buffers(geoms)
    valid = np.asarray(geoms.is_valid(), bool)
    rows = np.flatnonzero(valid)
    starts, ends = offs[rows], offs[rows + 1]
    if (ends - starts < 5).any():
        raise ValueError("WKB shorter than its header")
    if (data[starts] != 1).any():
        raise ValueError("only little-endian WKB supported")
    gtype = data[starts + 1].astype(np.int64)
    point = gtype == WKB_POINT
    line = gtype == WKB_LINESTRING
    multi = gtype == WKB_MULTILINESTRING
    if not (point | line | multi).all():
        raise ValueError(
            f"unsupported geometry type {gtype[~(point | line | multi)][0]}")
    if (ends[point] - starts[point] < 21).any():
        raise ValueError("truncated WKB Point")

    def line_counts(pos, end):
        # vertex count of the LineString header at each pos, checked to
        # lie (with its coordinates) inside its row's blob
        if (pos + 9 > end).any():
            raise ValueError("truncated WKB LineString")
        if (data[pos] != 1).any():
            raise ValueError("only little-endian WKB supported")
        if (data[pos + 1] != WKB_LINESTRING).any():
            raise ValueError("not a linestring: MultiLineString part type")
        cnt = u32_at(data, pos + 5)
        if (pos + 9 + 16 * cnt > end).any():
            raise ValueError("truncated WKB LineString")
        return cnt

    # (row, first coordinate byte, vertex count) of every part
    part_row = [rows[point], rows[line]]
    part_pos = [starts[point] + 5, starts[line] + 9]
    part_cnt = [np.ones(int(point.sum()), np.int64),
                line_counts(starts[line], ends[line])]
    m_row, m_end = rows[multi], ends[multi]
    if (m_end - starts[multi] < 9).any():
        raise ValueError("truncated WKB MultiLineString")
    n_parts = u32_at(data, starts[multi] + 5)
    pos = starts[multi] + 9
    k = 0
    while (n_parts > k).any():
        act = n_parts > k
        cnt = line_counts(pos[act], m_end[act])
        part_row.append(m_row[act])
        part_pos.append(pos[act] + 9)
        part_cnt.append(cnt)
        pos[act] += 9 + 16 * cnt
        k += 1
    part_row, part_pos, part_cnt = (np.concatenate(a) for a in
                                    (part_row, part_pos, part_cnt))
    # parts never overlap and lie in row, then part, order inside the data
    # buffer, so marking their byte ranges and selecting the marked bytes
    # gathers every vertex in output order
    marks = np.zeros(len(data) + 1, np.int8)
    marks[part_pos] += 1
    marks[part_pos + 16 * part_cnt] -= 1
    coords = data[np.cumsum(marks[:-1], dtype=np.int8).astype(bool)]
    counts = np.bincount(part_row, weights=part_cnt,
                         minlength=len(geoms)).astype(np.int64)
    types = np.zeros(len(geoms), np.int64)
    types[rows] = gtype
    return coords.view("<f8").reshape(-1, 2), counts, types


# ---------------------------------------------------------------------------
# linemerge (shapely.ops.linemerge equivalent)
# ---------------------------------------------------------------------------

def linemerge(lines: list[np.ndarray]) -> list[np.ndarray]:
    """Merge contiguous LineStrings into maximal chains.

    Joins lines end-to-end wherever endpoints coincide exactly and the
    junction is unambiguous (node degree 2). Deterministic: chains start from
    the lowest-index line with a free/branching end, traversal prefers the
    lowest-index unused line. Returns a list of merged coordinate arrays
    (len 1 == fully merged LineString, else MultiLineString parts).
    """
    if len(lines) == 1:
        return [np.asarray(lines[0])]

    ends: dict[tuple, list[tuple[int, int]]] = {}  # node -> [(line_idx, end)]
    for i, ln in enumerate(lines):
        a = (float(ln[0, 0]), float(ln[0, 1]))
        b = (float(ln[-1, 0]), float(ln[-1, 1]))
        ends.setdefault(a, []).append((i, 0))
        ends.setdefault(b, []).append((i, 1))

    used = [False] * len(lines)
    merged: list[np.ndarray] = []

    def node_of(i: int, end: int) -> tuple:
        ln = lines[i]
        p = ln[0] if end == 0 else ln[-1]
        return (float(p[0]), float(p[1]))

    def walk(start: int, start_end: int) -> np.ndarray:
        """Consume a chain starting at line `start`, entering from `start_end`."""
        used[start] = True
        coords = lines[start] if start_end == 0 else lines[start][::-1]
        chain = [np.asarray(coords)]
        cur_node = (float(chain[-1][-1, 0]), float(chain[-1][-1, 1]))
        while True:
            incid = [e for e in ends.get(cur_node, []) if not used[e[0]]]
            # extend only through unambiguous degree-2 junctions
            if len(ends.get(cur_node, [])) != 2 or len(incid) != 1:
                break
            nxt, nxt_end = incid[0]
            used[nxt] = True
            nxt_coords = lines[nxt] if nxt_end == 0 else lines[nxt][::-1]
            chain.append(np.asarray(nxt_coords[1:]))
            cur_node = (float(nxt_coords[-1, 0]), float(nxt_coords[-1, 1]))
        return np.concatenate(chain, axis=0)

    # pass 1: start chains at free or branching ends
    for i in range(len(lines)):
        if used[i]:
            continue
        for end in (0, 1):
            node = node_of(i, end)
            if len(ends[node]) != 2:
                # start at the free/branching node and walk away from it:
                # end==0 -> traverse forward, end==1 -> traverse reversed
                merged.append(walk(i, end))
                break
        # pure-cycle / interior lines handled in pass 2
    # pass 2: remaining lines are in cycles — walk them as-is
    for i in range(len(lines)):
        if not used[i]:
            merged.append(walk(i, 0))

    return merged


def linemerge_wkb(wkbs: list[bytes]) -> bytes:
    """A1: collect member geometries, merge, emit LineString or Multi
    (dissolve.py:32-46)."""
    parts: list[np.ndarray] = []
    for w in wkbs:
        parts.extend(decode_lines(w))
    out = linemerge(parts)
    if len(out) == 1:
        return encode_linestring(out[0])
    return encode_multilinestring(out)
