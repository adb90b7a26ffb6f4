"""Output checks that do not depend on partitioning or run order."""

from __future__ import annotations

import glob
import math
import os
from hashlib import blake2b

_MASK = (1 << 64) - 1


def _h64(text: str) -> int:
    return int.from_bytes(blake2b(text.encode(), digest_size=8).digest(),
                          "little")


def frame_digest(df, exclude: tuple[str, ...] = ()) -> str:
    """Order-independent digest of a DataFrame's rows: row count plus the
    sum of per-row xxhash64 values over the columns in name order. Map
    columns enter as key-sorted entry arrays, so neither row order nor map
    entry order can change it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        if field.name in exclude:
            continue
        c = F.col(f"`{field.name}`")
        if isinstance(field.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).first()
    return f"{row.n}:{int(row.s or 0) & _MASK:016x}"


def osm_way_digest(out_dir: str) -> str:
    """Digest of every OSM way's content with node ids mapped back to their
    coordinates: way count plus the sum of per-way hashes over (coordinate
    sequence, tag lines). Way ids and fragment boundaries are excluded, so
    two runs that split the ways into fragments differently agree."""
    n_ways, acc = 0, 0
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.osm"))):
        coords: dict[str, str] = {}
        body: list[str] = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("  <node "):
                    nid = line.split("id='", 1)[1].split("'", 1)[0]
                    coords[nid] = line.split("lat='", 1)[1].strip()
                elif line.startswith("    <nd "):
                    body.append(coords[line.split("ref='", 1)[1]
                                       .split("'", 1)[0]])
                elif line.startswith("    <tag "):
                    body.append(line.strip())
                elif line.startswith("  </way>"):
                    acc = (acc + _h64("\n".join(body))) & _MASK
                    n_ways += 1
                    body = []
    return f"{n_ways}:{acc:016x}"


def _canon(val) -> str:
    """The canonical value rule of the oracle parity tests."""
    if val is None:
        return "\x00null"
    if isinstance(val, bool):
        return str(val).lower()
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return repr(round(val, 9))
    return str(val)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def rowset_mismatch(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """None when the Spark rows equal the oracle rows as canonical row
    sets (column names compared case-insensitively, order ignored)."""
    s_cols = [c.lower() for c in s_cols]
    d_cols = [c.lower() for c in d_cols]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs {len(d_rows)}"
    if _rowset(s_cols, s_rows) != _rowset(d_cols, d_rows):
        return "row values differ"
    return None
