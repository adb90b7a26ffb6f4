"""OSM XML sink (SURVEY §2.1 S8/S9): the reference shells out to ogr2osm
(main.py:248-257) with ``-e 2913`` — reprojecting RLIS' EPSG:2913 feet to
WGS84 — and the tag-repair plugin (repair_keys.py), producing ONE
``rlis.osm``.  Here the sink is two stages, both covered:

1. ``write_osm_xml`` — distributed: each partition serializes its ways +
   interned nodes to one ``part-*.osm`` fragment via ``mapInArrow``,
   coordinates reprojected to lat/lon (spatial/proj.py), negative ids per
   OSM convention for new objects. Vertices come from the WKB buffers
   (``wkb.vertices_batch``) and tags from the map column's offsets; the
   fragment text is one Arrow ``take`` over a pool of distinct pieces, so
   Python formats once per unique node, key and value, never per way.
2. ``merge_fragments`` — single-writer merge into one artifact (the .osm
   file is inherently a one-file deliverable, same as the reference):
   streams fragments twice (nodes then ways), deduplicates nodes by id,
   and fails loudly if two distinct coordinates ever hashed to one id.

Id allocation is deterministic across partitions without coordination:
node ids come from a blake2b-64 of the exact 16 coordinate bytes — the
same exact-float interning rule as the dissolve stage (dissolve.py:
144-153) — so identical endpoints get identical ids in every fragment and
collapse on merge.  (Round 1 used crc32|adler32, whose high half has poor
entropy on 16-byte input; blake2b keeps the full 62-bit id space honest.)
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from hashlib import blake2b

from xml.sax.saxutils import quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from rlis2osm_spark.functions import wkb
from rlis2osm_spark.spatial.proj import feet_to_lonlat

_OUT_SCHEMA = StructType([
    StructField("part_file", StringType()),
    StructField("n_ways", LongType()),
    StructField("n_nodes", LongType()),
    StructField("n_null_geoms", LongType()),  # skipped rows, surfaced loudly
    StructField("digest", StringType()),  # r6: hashed while writing, so the
    # driver's manifest never re-reads fragment bytes serially at promotion
])


_OUT_ARROW_SCHEMA = pa.schema([
    ("part_file", pa.string()), ("n_ways", pa.int64()),
    ("n_nodes", pa.int64()), ("n_null_geoms", pa.int64()),
    ("digest", pa.string())])

# the fixed text of a fragment, in pool order
_PIECES = ("<?xml version='1.0' encoding='UTF-8'?>\n",
           "<osm version='0.6' generator='rlis2osm_spark'>\n",
           "  <way id='", "' visible='true'>\n",
           "    <tag k=", " v=", " />\n",
           "  </way>\n", "</osm>\n")
(_XML_HEAD, _OSM_HEAD, _WAY_OPEN, _WAY_OPEN_END, _TAG_K, _TAG_V, _TAG_END,
 _WAY_CLOSE, _OSM_CLOSE) = range(len(_PIECES))


def _node_id_from_key(key: bytes) -> int:
    """Deterministic negative node id from the exact 16 coordinate bytes."""
    h = int.from_bytes(blake2b(key, digest_size=8).digest(), "little")
    return -(h % (1 << 62)) - 1


def write_osm_xml(df: DataFrame, out_dir: str) -> DataFrame:
    """Write one .osm fragment per partition; returns per-partition stats.

    Expects the sink-assembled frame (repair_and_filter_tags): a map<k,v>
    ``tags`` column with ''/null values already dropped (S9 semantics).
    Coordinates are converted from EPSG:2913 feet to WGS84 lat/lon (the
    reference's ``ogr2osm -e 2913`` step).

    Staged write (ADVICE r2): tasks emit ``part-*.osm.tmp``, the action
    runs EAGERLY here, and only after it succeeds are the previous
    ``part-*.osm`` fragments removed and the staging files atomically
    promoted — a failed or never-materialized run can no longer destroy
    the prior deliverable or leave a partial fragment set that
    merge_fragments would silently include. Returns the per-partition
    stats as a small local DataFrame (already materialized).

    **Filesystem contract** (ADVICE r3): tasks write fragments and the
    driver promotes them, so ``out_dir`` must be a filesystem BOTH see —
    local mode (one machine) or a shared mount (NFS/FUSE-mounted object
    store) on a cluster; a driver-invisible executor-local path fails
    loudly at promotion, not silently. The expected fragment set is
    recorded in ``_fragments.json`` BEFORE promotion begins, so a crash
    mid-promotion leaves a manifest that ``merge_fragments`` validates
    against by default — a mixed-generation directory is rejected, never
    silently merged (ADVICE r3)."""
    import glob as _glob

    def serialize(batches: Iterator[pa.RecordBatch]
                  ) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        path = os.path.join(out_dir, f"part-{pid:05d}.osm.tmp")
        coord_parts: list[np.ndarray] = []  # (n_i, 2) float64 per batch
        count_parts: list[np.ndarray] = []  # vertex count per way
        tag_parts: list[pa.Array] = []      # tags map per way
        n_null = 0
        for batch in batches:
            geoms = batch.column(0)
            valid = np.asarray(geoms.is_valid(), bool)
            coords, counts, types = wkb.vertices_batch(geoms)
            if (types == wkb.WKB_POINT).any():
                raise ValueError(
                    f"unsupported geometry type {wkb.WKB_POINT}")
            n_null += int((~valid).sum())
            coord_parts.append(coords)
            count_parts.append(counts[valid])
            tag_parts.append(batch.column(1).filter(pa.array(valid)))

        counts = (np.concatenate(count_parts) if count_parts
                  else np.empty(0, np.int64))
        n_ways = len(counts)
        all_coords = (np.concatenate(coord_parts) if coord_parts
                      else np.empty((0, 2), "<f8"))
        # Coordinates are interned with a bit-exact np.unique (uint64-pair
        # view — same exact-byte rule as pack('<2d'), so -0.0/0.0 and NaN
        # payloads stay distinct), in first-occurrence order
        bit_pairs = all_coords.view([("x", "<u8"), ("y", "<u8")]).ravel()
        _, first_idx, inverse = np.unique(
            bit_pairs, return_index=True, return_inverse=True)
        order = np.argsort(first_idx)        # sorted-unique -> 1st-occurrence
        rank = np.empty(len(order), np.int64)
        rank[order] = np.arange(len(order))
        inv = rank[inverse]                  # per-vertex -> unique ordinal
        uniq = np.ascontiguousarray(all_coords[first_idx[order]])
        n_uniq = len(uniq)

        # one blake2b per UNIQUE node (r5); an id collision between two
        # DISTINCT coordinate keys still fails loudly
        key_blob = uniq.tobytes()  # the exact pack('<2d') bytes, 16/node
        ids = [_node_id_from_key(key_blob[16 * j:16 * j + 16])
               for j in range(n_uniq)]
        if len(set(ids)) != n_uniq:
            from collections import Counter

            nid = next(k for k, c in Counter(ids).items() if c > 1)
            where = [j for j, v in enumerate(ids) if v == nid]
            raise ValueError(
                f"node id collision within fragment: {nid} for "
                f"{tuple(uniq[where[0]])} vs {tuple(uniq[where[1]])}")

        lons, lats = feet_to_lonlat(uniq[:, 0], uniq[:, 1])
        node_lines = [f"  <node id='{i}' visible='true' "
                      f"lat='{la!r}' lon='{lo!r}' />\n"
                      for i, la, lo in zip(ids, lats.tolist(), lons.tolist())]
        nd_lines = [f"    <nd ref='{i}' />\n" for i in ids]

        # tag entries of each way, sorted by key, as codes into the
        # distinct keys and values (str() of each, quoted once)
        n_tags = np.zeros(n_ways, np.int64)
        qkeys: list[str] = []
        qvals: list[str] = []
        if n_ways:
            maps = pa.concat_arrays(tag_parts)
            moffs = np.asarray(maps.offsets, np.int64)
            n_tags = np.diff(moffs)
            n_tags[~np.asarray(maps.is_valid(), bool)] = 0
        tag_way = np.repeat(np.arange(n_ways), n_tags)
        tag_first = np.cumsum(n_tags) - n_tags   # way -> its first entry
        tag_rank = np.arange(len(tag_way)) - tag_first[tag_way]
        kcode = vcode = np.empty(0, np.int64)
        if len(tag_way):
            entry = moffs[:-1][tag_way] + tag_rank
            kdict = pc.dictionary_encode(maps.keys)
            vdict = pc.dictionary_encode(maps.items, null_encoding="encode")
            kcode = np.asarray(kdict.indices, np.int64)[entry]
            vcode = np.asarray(vdict.indices, np.int64)[entry]
            keys = [str(k) for k in kdict.dictionary.to_pylist()]
            krank = np.empty(len(keys), np.int64)
            krank[sorted(range(len(keys)), key=keys.__getitem__)] = (
                np.arange(len(keys)))
            by_key = np.lexsort((krank[kcode], tag_way))
            kcode, vcode = kcode[by_key], vcode[by_key]
            # quoteattr escapes &<>'" itself — wrapping escape() around
            # the value double-escaped ampersands (r5 fix: 'A & B' used to
            # serialize as 'A &amp;amp; B')
            qkeys = [quoteattr(k) for k in keys]
            qvals = [quoteattr(str(v))
                     for v in vdict.dictionary.to_pylist()]

        # The fragment is one gather over a pool of distinct text pieces:
        # the fixed pieces, one line per unique node, one <nd> line per
        # unique node, the quoted keys and values, the way ids.
        node0 = len(_PIECES)
        nd0 = node0 + n_uniq
        key0 = nd0 + n_uniq
        val0 = key0 + len(qkeys)
        way0 = val0 + len(qvals)
        way_ids = -((pid << 32) + np.arange(n_ways, dtype=np.int64)) - 1
        pool = pa.concat_arrays([
            pa.array([*_PIECES, *node_lines, *nd_lines, *qkeys, *qvals],
                     pa.large_string()),
            pc.cast(pa.array(way_ids, pa.int64()), pa.large_string())])
        # each way: <way id=..> header (3 pieces), its <nd> lines, 5 pieces
        # per tag, </way>
        size = 4 + counts + 5 * n_tags
        start = 2 + n_uniq + np.cumsum(size) - size
        idx = np.empty(3 + n_uniq + int(size.sum()), np.int64)
        idx[:2] = (_XML_HEAD, _OSM_HEAD)
        idx[2:2 + n_uniq] = node0 + np.arange(n_uniq)
        idx[start] = _WAY_OPEN
        idx[start + 1] = way0 + np.arange(n_ways)
        idx[start + 2] = _WAY_OPEN_END
        vert_way = np.repeat(np.arange(n_ways), counts)
        vert_first = np.cumsum(counts) - counts
        idx[start[vert_way] + 3 + np.arange(len(inv))
            - vert_first[vert_way]] = nd0 + inv
        tag_pos = start[tag_way] + 3 + counts[tag_way] + 5 * tag_rank
        idx[tag_pos] = _TAG_K
        idx[tag_pos + 1] = key0 + kcode
        idx[tag_pos + 2] = _TAG_V
        idx[tag_pos + 3] = val0 + vcode
        idx[tag_pos + 4] = _TAG_END
        idx[start + size - 1] = _WAY_CLOSE
        idx[-1] = _OSM_CLOSE

        hasher = blake2b(digest_size=8)
        with open(path, "wb") as fh:
            for lo in range(0, len(idx), 1 << 16):
                text = pool.take(pa.array(idx[lo:lo + (1 << 16)]))
                offs = np.frombuffer(text.buffers()[1], "<i8")
                chunk = memoryview(text.buffers()[2])[offs[0]:offs[-1]]
                fh.write(chunk)
                hasher.update(chunk)
        yield pa.RecordBatch.from_arrays(
            [pa.array([path]), pa.array([n_ways], pa.int64()),
             pa.array([n_uniq], pa.int64()), pa.array([n_null], pa.int64()),
             pa.array([hasher.hexdigest()])],
            schema=_OUT_ARROW_SCHEMA)

    projected = df.select("geometry", "tags")  # analyzes (raises on bad input)
    os.makedirs(out_dir, exist_ok=True)
    for stale in _glob.glob(os.path.join(out_dir, "part-*.osm.tmp")):
        os.remove(stale)
    rows = projected.mapInArrow(serialize, _OUT_SCHEMA).collect()
    # the action succeeded: record the expected fragment set FIRST (the
    # manifest makes any later partial state detectable), then promote
    # (os.replace atomically overwrites a same-named old fragment), THEN
    # drop only the stale old fragments outside the new set — a failure
    # mid-promotion leaves every not-yet-promoted old fragment intact
    # (review r3) and a manifest that merge_fragments rejects the mix with
    staged = []
    seen: set[str] = set()
    for r in rows:
        dest = r.part_file[:-len(".tmp")]
        if dest in seen:  # duplicate stats row from a retried task
            continue
        seen.add(dest)
        staged.append((r.part_file, dest, r.n_ways, r.n_nodes,
                       r.n_null_geoms, r.digest))
    # manifest records content digests, not just names: a rerun that
    # produces the SAME fragment names but crashes mid-promotion would
    # otherwise leave a same-name mixed generation the name-set check
    # cannot see (review r4). Digests were computed by the writing task
    # (r6) — the driver no longer re-reads every fragment serially here.
    _write_fragment_manifest(out_dir, {
        os.path.basename(d): dig for _, d, *_, dig in staged})
    final_rows = []
    for tmp, dest, n_ways, n_nodes, n_null, dig in staged:
        try:
            os.replace(tmp, dest)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"fragment {tmp} is not visible to the driver: write_osm_xml "
                "requires out_dir on a filesystem shared by driver and "
                "executors (local mode or an NFS/object-store mount) — see "
                "the docstring's filesystem contract") from None
        final_rows.append(dict(zip(_OUT_SCHEMA.names,
                                   (dest, n_ways, n_nodes, n_null, dig))))
    for old in _glob.glob(os.path.join(out_dir, "part-*.osm")):
        if old not in seen:
            os.remove(old)
    # an Arrow table becomes a local relation; a list of rows would become
    # an RDD that runs one Python task per core just to convert them
    return df.sparkSession.createDataFrame(
        pa.Table.from_pylist(final_rows, schema=_OUT_ARROW_SCHEMA),
        _OUT_SCHEMA)


_FRAG_MANIFEST = "_fragments.json"


def _fragment_digest(path: str) -> str:
    h = blake2b(digest_size=8)
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _write_fragment_manifest(out_dir: str, digests: dict[str, str]) -> None:
    import json

    tmp = os.path.join(out_dir, _FRAG_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"fragments": digests}, fh)
    os.replace(tmp, os.path.join(out_dir, _FRAG_MANIFEST))


_FRAGMENT_HEADER = _PIECES[:2]


def merge_fragments(out_dir: str, dest_path: str,
                    expect_fragments: int | None = None) -> dict:
    """Merge ``part-*.osm`` fragments into one artifact (reference
    main.py:248-257 emits a single ``rlis.osm``).

    Streams every fragment twice — nodes first, then ways — holding only
    the node-id -> lat/lon map (for cross-fragment dedup + collision
    check).  A single merged .osm is a one-machine deliverable by nature;
    at cluster scale the fragments themselves are the parallel output and
    this runs on the driver/edge node, like the reference's ogr2osm step.

    Guards (ADVICE r2/r3): the writer's ``_fragments.json`` manifest is
    validated BY DEFAULT — the on-disk fragment set must equal the set the
    writer promoted, so a crash mid-promotion (mixed old/new generations)
    or a foreign part-*.osm is rejected, never silently merged. Every
    fragment must also carry write_osm_xml's exact header, and
    ``expect_fragments`` cross-checks the count against the writer's stats
    rows. Raises ValueError if two distinct coordinates produced the same
    node id (hash collision) instead of silently corrupting way geometry.
    """
    import glob
    import json

    frags = sorted(glob.glob(os.path.join(out_dir, "part-*.osm")))
    manifest_path = os.path.join(out_dir, _FRAG_MANIFEST)
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)["fragments"]
        # back-compat: r4.0 manifests were a bare name list
        expected = (set(manifest) if isinstance(manifest, list)
                    else set(manifest.keys()))
        actual = {os.path.basename(f) for f in frags}
        if actual != expected:
            raise ValueError(
                f"fragment set does not match the writer manifest "
                f"({manifest_path}): missing={sorted(expected - actual)}, "
                f"unexpected={sorted(actual - expected)} — refusing to "
                "merge a mixed or partial fragment generation")
        if isinstance(manifest, dict):
            stale = [f for f in frags
                     if _fragment_digest(f) != manifest[os.path.basename(f)]]
            if stale:
                raise ValueError(
                    f"fragment content does not match the writer manifest "
                    f"for {[os.path.basename(f) for f in stale]} — a crash "
                    "mid-promotion left a same-name mixed generation; "
                    "re-run write_osm_xml before merging")
    if expect_fragments is not None and len(frags) != expect_fragments:
        raise ValueError(
            f"fragment count mismatch: writer reported {expect_fragments} "
            f"fragments but {out_dir} holds {len(frags)}")
    for f in frags:
        with open(f, encoding="utf-8") as fh:
            head = (fh.readline(), fh.readline())
        if head != _FRAGMENT_HEADER:
            raise ValueError(
                f"{f} was not written by write_osm_xml (unexpected header "
                f"{head!r}); refusing to merge foreign fragments")
    seen: dict[str, str] = {}
    n_ways = 0
    with open(dest_path, "w", encoding="utf-8") as out:
        out.write("<?xml version='1.0' encoding='UTF-8'?>\n")
        out.write("<osm version='0.6' generator='rlis2osm_spark'>\n")
        for f in frags:
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    if not line.startswith("  <node "):
                        continue
                    nid = line.split("id='", 1)[1].split("'", 1)[0]
                    coords = line.split("lat='", 1)[1]
                    prev = seen.get(nid)
                    if prev is None:
                        seen[nid] = coords
                        out.write(line)
                    elif prev != coords:
                        raise ValueError(
                            f"node id collision: {nid} maps to two "
                            f"coordinates ({prev!r} vs {coords!r})")
        in_way = False
        for f in frags:
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("  <way "):
                        in_way = True
                        n_ways += 1
                    if in_way:
                        out.write(line)
                    if line.startswith("  </way>"):
                        in_way = False
        out.write("</osm>\n")
    return {"dest": dest_path, "n_nodes": len(seen), "n_ways": n_ways,
            "n_fragments": len(frags)}
