"""End-to-end rlis.osm golden (VERDICT r2 #6): run ``pipeline.convert`` (the
full combine -> dissolve -> tag-assembly -> WGS84 XML sink) over a pinned
deterministic catalog and compare the CANONICALIZED merged artifact to a
checked-in golden (reference EP1 stages 3-6, main.py:209-257).

Canonical form: way ids renumbered in sorted-body order (raw way ids are
partition-dependent), node ids kept (they are pure functions of the exact
coordinate bytes), node lines sorted. Any change to expansion, translation,
titlecasing, dissolve grouping, tag repair, id interning, or the projection
shifts the canonical bytes and fails this test.
"""

import os
import re

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "rlis_small.osm")


def canonicalize(path: str) -> str:
    nodes, ways, cur = [], [], None
    for line in open(path, encoding="utf-8"):
        if line.startswith("  <node "):
            nodes.append(line)
        elif line.startswith("  <way "):
            cur = []
        elif cur is not None and line.startswith("  </way>"):
            ways.append("".join(cur))
            cur = None
        elif cur is not None:
            cur.append(line)
    ways.sort()
    out = ["<canonical-osm>\n"]
    out += sorted(nodes)
    for i, body in enumerate(ways):
        out.append(f"  <way id='{-(i + 1)}'>\n{body}  </way>\n")
    out.append("</canonical-osm>\n")
    return "".join(out)


def test_full_pipeline_osm_golden(spark, tmp_path):
    from rlis2osm_spark.datagen import generate
    from rlis2osm_spark.pipeline import convert

    src = str(tmp_path / "cat")
    generate(src, n_streets=48, n_trails=16, seed=7)
    dest = str(tmp_path / "rlis.osm")
    _dissolved, info, _lineage = convert(spark, src, str(tmp_path / "out"),
                                         merged=dest)
    assert info["n_ways"] > 0 and info["n_nodes"] > 0

    got = canonicalize(dest)
    if not os.path.exists(GOLDEN):  # first run: materialize the golden
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w", encoding="utf-8") as fh:
            fh.write(got)
        raise AssertionError(
            f"golden written to {GOLDEN}; commit it and re-run")
    want = open(GOLDEN, encoding="utf-8").read()
    assert got == want, "canonical OSM artifact drifted from the golden"
    # sanity on the canonical shape itself
    assert got.count("<way id=") == info["n_ways"]
    assert len(re.findall(r"<node id='-\d+' ", got)) == info["n_nodes"]
