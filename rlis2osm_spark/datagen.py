"""Deterministic synthetic RLIS-shaped data + interleaved document tables.

BASELINE.json mandates the engine run over an interleaved text+media
``documents`` table; no external data is allowed in-sandbox, so this module
synthesizes the RLIS-shaped inputs (streets/trails/bike_routes, FIXTURES.md
§1-3) and derives the document table from them — seeded, reproducible,
written as parquet (locally standing in for Iceberg tables).

Street geometries form chains with **exactly shared endpoints** (float
equality, dissolve.py:144-145) so the dissolve stage has real work; bike
routes reference street LOCALIDs incl. 9**-prefixed split segments and
multi-match fan-outs; trails include MultiLineStrings for the explode path.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rlis2osm_spark.functions.wkb import encode_linestring, encode_multilinestring

_STREET_TYPES = np.array(
    [1110, 1120, 1121, 1122, 1123, 1200, 1221, 1222, 1223, 1300, 1321, 1400,
     1421, 1450, 1471, 1500, 1521, 1550, 1560, 1600, 1700, 1740, 1750, 1760,
     1800, 1850, 2000, 5101, 5201, 5301, 5401, 5402, 5451, 5500, 5501, 8224,
     9000]
)
_DIRS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW", "NB", "EB", "SB", "WB", None]
_FTYPES = ["AVE", "ST", "BLVD", "HWY", "CT", "DR", "LN", "PKWY", "RD", "WY", None]
_NAME_WORDS = ["MAIN", "OAK", "CEDAR", "ELM", "HOOD", "HELENS", "EVERETT",
               "MARINE", "POWELL", "DIVISION", "STARK", "BURNSIDE", "GRAND",
               "INTERSTATE", "HOLLADAY", "GREELEY", "GOING", "FESSENDEN"]
_NAME_PREFIX_ABBRS = ["MT", "ST", "US", "NFD", "MLK", "JQ", "VA", "CO", None,
                      None, None]
_YNN = ["Yes", "No", None]
_TRAIL_STATUS = ["Open", "Open", "Open", "Open_Fee", "Restricted_Private",
                 "Unknown", "Conceptual", "Decommissioned", "Planned",
                 "Under construction"]
_TRL_SURFACES = ["Chunk Wood", "Decking", "Hard Surface", "Hard Surface",
                 "Imported Material", "Native Material", "Snow", "Stairs",
                 "Water", "Unknown", None]
_WIDTHS = ["1-5", "6-9", "10-14", "15+", "5", "Unknown", None]
_SYSTEM_TYPES = ["Regional", "State", "National", "Local", "Park", None]
_AGENCIES = ["Portland Parks", "Metro", "THPRD", "Unknown", None]

# EPSG:2913-ish coordinate origin (feet), Portland metro
_X0, _Y0 = 7_600_000.0, 650_000.0


def gen_streets(n: int, seed: int = 42) -> pd.DataFrame:
    """Street segments in chains of 1-6 with shared endpoints and mostly
    chain-constant attributes (so dissolve groups are non-trivial)."""
    rng = np.random.RandomState(seed)
    rows = []
    fid = 0
    chain_id = 0
    while fid < n:
        chain_len = int(rng.randint(1, 7))
        stype = int(_STREET_TYPES[rng.randint(len(_STREET_TYPES))])
        prefix = _DIRS[rng.randint(len(_DIRS))]
        ftype = _FTYPES[rng.randint(len(_FTYPES))]
        abbr = _NAME_PREFIX_ABBRS[rng.randint(len(_NAME_PREFIX_ABBRS))]
        word = _NAME_WORDS[rng.randint(len(_NAME_WORDS))]
        sname = f"{abbr} {word}" if abbr else word
        if rng.rand() < 0.05:
            sname = "UNNAMED"
        if rng.rand() < 0.05:
            sname = None
        zf = int(rng.choice([1, 1, 1, 1, 2, 3, -1, -2, 0]))
        zt = zf if rng.rand() < 0.8 else int(rng.choice([1, 2, -1]))
        x = _X0 + (chain_id % 100) * 2000.0
        y = _Y0 + (chain_id // 100) * 2000.0
        for k in range(chain_len):
            if fid >= n:
                break
            seg_len = float(rng.randint(200, 800))
            x2 = x + seg_len
            jitter = float(rng.randint(-50, 51))
            y2 = y + jitter
            # ~10% of chain members break the attribute run (splits groups)
            this_type = stype
            if k > 0 and rng.rand() < 0.1:
                this_type = int(_STREET_TYPES[rng.randint(len(_STREET_TYPES))])
            rows.append(
                dict(
                    fid=fid,
                    LOCALID=100000 + fid,
                    TYPE=this_type,
                    PREFIX=prefix,
                    STREETNAME=sname,
                    FTYPE=ftype,
                    DIRECTION=_DIRS[rng.randint(len(_DIRS))] if rng.rand() < 0.15 else None,
                    F_ZLEV=None if zf == 0 else zf,
                    T_ZLEV=None if zt == 0 else zt,
                    geometry=encode_linestring([(x, y), (x2, y2)]),
                )
            )
            x, y = x2, y2
            fid += 1
        chain_id += 1
    return pd.DataFrame(rows)


def gen_bike_routes(streets: pd.DataFrame, seed: int = 43) -> pd.DataFrame:
    """Overlay rows for ~20% of streets; ~5% of covered streets get 2-3
    split segments (9**-prefix BIKEIDs) to exercise the 1:N fan-out +
    geometry substitution path (main.py:106-113)."""
    rng = np.random.RandomState(seed)
    rows = []
    fid = 0
    biketyps = ["BKE-BLVD", "BKE-SHRD", "BKE-BUFF", "BKE-LANE", "BKE-TRAK",
                "SHL-WIDE", "OTH-CONN", "OTH-SWLK", "OTH-XING", "", None]
    bikethere = ["LT", "MT", "HT", "CA", None]
    covered = streets.sample(frac=0.2, random_state=rng)
    for _, st in covered.iterrows():
        local_id = int(st["LOCALID"])
        n_segs = 1
        if rng.rand() < 0.05:
            n_segs = int(rng.randint(2, 4))
        coords = np.frombuffer(st["geometry"][9:], dtype="<f8").reshape(-1, 2)
        for s in range(n_segs):
            bike_id = local_id if n_segs == 1 else int(f"90{s}{local_id}")
            frac0, frac1 = s / n_segs, (s + 1) / n_segs
            p0 = coords[0] + (coords[-1] - coords[0]) * frac0
            p1 = coords[0] + (coords[-1] - coords[0]) * frac1
            rows.append(
                dict(
                    fid=fid,
                    BIKEID=bike_id,
                    BIKETYP=biketyps[rng.randint(len(biketyps))],
                    BIKETHERE=bikethere[rng.randint(len(bikethere))],
                    geometry=encode_linestring([p0, p1]),
                )
            )
            fid += 1
    return pd.DataFrame(rows)


def gen_trails(n: int, seed: int = 44) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    rows = []
    trail_words = ["SPRINGWATER", "WILDWOOD", "FANNO CREEK", "MARQUAM",
                   "TERWILLIGER", "LEIF ERIKSON", "WARRIOR ROCK", "GREENWAY"]
    for fid in range(n):
        base = trail_words[rng.randint(len(trail_words))]
        tname = f"{base} TRL" if rng.rand() < 0.5 else f"{base} Trail"
        if rng.rand() < 0.1:
            tname = f"{base} St - E St Connector"
        if rng.rand() < 0.1:
            tname = None
        x = _X0 + float(rng.randint(0, 200_000))
        y = _Y0 + float(rng.randint(0, 100_000))
        if rng.rand() < 0.15:
            geom = encode_multilinestring(
                [
                    [(x, y), (x + 300.0, y + 40.0)],
                    [(x + 300.0, y + 40.0), (x + 650.0, y + 10.0)],
                ]
            )
        else:
            geom = encode_linestring([(x, y), (x + 500.0, y + 25.0)])
        rows.append(
            dict(
                fid=fid,
                ACCESSIBLE=rng.choice(["Accessible", "Not Accessible", None]),
                AGENCYNAME=_AGENCIES[rng.randint(len(_AGENCIES))],
                EQUESTRIAN=_YNN[rng.randint(3)],
                HIKE=_YNN[rng.randint(3)],
                MTNBIKE=_YNN[rng.randint(3)],
                ONSTRBIKE=rng.choice(["Yes", "No", "No", "No", None]),
                ROADBIKE=_YNN[rng.randint(3)],
                SHAREDNAME=base.title() if rng.rand() < 0.3 else None,
                STATUS=_TRAIL_STATUS[rng.randint(len(_TRAIL_STATUS))],
                SYSTEMNAME=f"{base.title()} System" if rng.rand() < 0.3 else None,
                SYSTEMTYPE=_SYSTEM_TYPES[rng.randint(len(_SYSTEM_TYPES))],
                TRAILNAME=tname,
                TRLSURFACE=_TRL_SURFACES[rng.randint(len(_TRL_SURFACES))],
                WIDTH=_WIDTHS[rng.randint(len(_WIDTHS))],
                geometry=geom,
            )
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# interleaved documents table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

def _feature_spans(src: str, fid: int, text_fields: list[tuple[str, object]]):
    """Interleave text spans (attribute k=v) with the geometry media span.

    Span order is the per-row invariant (kind, text, media_ref, offset) that
    every transform must preserve (BASELINE.json input_hint).
    """
    spans = []
    off = 0
    media_at = len(text_fields) // 2  # media span sits mid-sequence
    for i, (k, v) in enumerate(text_fields):
        if i == media_at:
            spans.append({"kind": "media", "text": None,
                          "media_ref": f"geom:{src}:{fid}", "offset": off})
            off += 1
        if v is None or (isinstance(v, float) and v != v):  # None or NaN
            continue
        spans.append({"kind": "text", "text": f"{k}={v}",
                      "media_ref": None, "offset": off})
        off += 1
    if media_at >= len(text_fields):
        spans.append({"kind": "media", "text": None,
                      "media_ref": f"geom:{src}:{fid}", "offset": off})
    return spans


_SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
_DOCS_T = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_T))])
_MEDIA_T = pa.schema(
    [("media_ref", pa.string()), ("payload", pa.binary()),
     ("media_kind", pa.string())]
)


def build_documents(streets: pd.DataFrame, trails: pd.DataFrame):
    """One interleaved document per street/trail feature; geometry payloads
    go to the sidecar media table keyed by media_ref."""
    docs, media = [], []
    for src, df in (("streets", streets), ("trails", trails)):
        attr_cols = [c for c in df.columns if c not in ("fid", "geometry")]
        for row in df.itertuples(index=False):
            d = row._asdict()
            fid = int(d["fid"])
            fields = [(c, d[c]) for c in attr_cols]
            docs.append(
                {"doc_id": f"{src}:{fid}",
                 "spans": _feature_spans(src, fid, fields)}
            )
            media.append(
                {"media_ref": f"geom:{src}:{fid}",
                 "payload": d["geometry"], "media_kind": "geometry"}
            )
    docs_t = pa.Table.from_pylist(docs, schema=_DOCS_T)
    media_t = pa.Table.from_pylist(media, schema=_MEDIA_T)
    return docs_t, media_t


def generate(out_dir: str, n_streets: int = 2000, n_trails: int = 400,
             seed: int = 42) -> dict[str, str]:
    """Write the full synthetic dataset as parquet; idempotent per (dir)."""
    os.makedirs(out_dir, exist_ok=True)
    streets = gen_streets(n_streets, seed)
    bikes = gen_bike_routes(streets, seed + 1)
    trails = gen_trails(n_trails, seed + 2)
    docs_t, media_t = build_documents(streets, trails)

    paths = {}
    for name, df in (("streets", streets), ("bike_routes", bikes),
                     ("trails", trails)):
        p = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(p, index=False)
        paths[name] = p
    for name, tbl in (("documents_rlis", docs_t), ("media", media_t)):
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, p)
        paths[name] = p
    return paths


def ensure_dataset(out_dir: str, n_streets: int = 2000, n_trails: int = 400,
                   refresh: bool = False) -> dict[str, str]:
    """Idempotent dataset materialization; ``refresh=True`` regenerates and
    overwrites existing files (the reference's ``-r/--refresh`` semantics,
    main.py:180-185 — 'downloaded overwriting any existing files')."""
    expected = ["streets", "bike_routes", "trails", "documents_rlis", "media"]
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in expected}
    if not refresh and all(os.path.exists(p) for p in paths.values()):
        return paths
    return generate(out_dir, n_streets, n_trails)
