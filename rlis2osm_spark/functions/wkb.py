"""Minimal WKB geometry codec + line operations (no GIS dependency).

The reference manipulates geometries through shapely GeoJSON mappings
(/root/reference/rlis2osm/main.py:132-135, dissolve.py:37-43); shapely is not
available here, and at 100 TB scale geometry must travel as a splittable
columnar payload anyway — so the engine's wire format is **WKB in a
BinaryType column**, decoded only inside Arrow-batched pandas UDFs.

Implements: 2-D Point / LineString / MultiLineString little-endian WKB
encode/decode, endpoint extraction, multipart explode (ST_Dump equivalent for
E1, main.py:131-138), and ``linemerge`` (shapely.ops.linemerge equivalent for
A1, dissolve.py:41) as a deterministic endpoint chain-walk.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_MULTILINESTRING = 5

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def encode_point(x: float, y: float) -> bytes:
    return _HDR.pack(1, WKB_POINT) + struct.pack("<2d", x, y)


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


def decode_point(wkb: bytes) -> tuple[float, float]:
    gtype, off = _read_header(wkb, 0)
    if gtype != WKB_POINT:
        raise ValueError(f"not a point: type {gtype}")
    return struct.unpack_from("<2d", wkb, off)


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


def endpoint_slices_batch(geoms) -> np.ndarray:
    """Vectorized endpoint extraction over a batch of single-part
    LineString WKBs (r6): returns ``(n, 2, 16)`` uint8 — each geometry's
    first- and last-vertex 16-byte coordinate payloads, the exact ranges
    the native ``substring(geom, 10, 16)`` path slices (see
    ``endpoint_nodes``). One buffer concatenation + one fancy-indexed
    gather; no per-row byte slicing in Python. Like the per-row slice it
    replaces, it does not validate geometry type — callers guard
    multi/null geometries upstream (operators/dissolve.py)."""
    n = len(geoms)
    if n == 0:
        return np.empty((0, 2, 16), np.uint8)
    lens = np.fromiter((len(g) for g in geoms), dtype=np.int64, count=n)
    if (lens < 25).any():
        raise ValueError("WKB LineString shorter than one vertex")
    starts = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    buf = np.frombuffer(b"".join(geoms), np.uint8)
    offs = np.empty(2 * n, np.int64)
    offs[0::2] = starts + 9          # first vertex: after 1+4+4 header
    offs[1::2] = starts + lens - 16  # last vertex: final 16 bytes
    return buf[offs[:, None] + np.arange(16)].reshape(n, 2, 16)


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
