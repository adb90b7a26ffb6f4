"""OSM XML sink: fragment structure, tag repair semantics, node interning."""

import glob
import xml.etree.ElementTree as ET

from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
from rlis2osm_spark.operators.osm_sink import write_osm_xml


def test_write_osm_xml(spark, synth_dir, tmp_path):
    streets = spark.read.parquet(f"{synth_dir}/streets.parquet")
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet")
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    out = repair_and_filter_tags(combine(streets, trails, bikes))
    n_rows = out.count()

    stats = write_osm_xml(out.coalesce(2), str(tmp_path / "osm")).collect()
    assert sum(s.n_ways for s in stats) == n_rows

    files = sorted(glob.glob(str(tmp_path / "osm" / "part-*.osm")))
    assert files == [s.part_file for s in sorted(stats, key=lambda s: s.part_file)]
    total_ways = 0
    for f in files:
        root = ET.parse(f).getroot()
        assert root.tag == "osm"
        ways = root.findall("way")
        total_ways += len(ways)
        node_ids = {n.get("id") for n in root.findall("node")}
        for w in ways[:20]:
            # every nd ref resolves within the fragment
            for nd in w.findall("nd"):
                assert nd.get("ref") in node_ids
            tags = {t.get("k"): t.get("v") for t in w.findall("tag")}
            # S9: no empty/null tag values survive the sink
            assert all(v not in ("", "None", None) for v in tags.values())
    assert total_ways == n_rows


def test_tag_values_escaped_exactly_once(spark, tmp_path):
    """r5 fix: quoteattr escapes &<>'\" itself — the old escape()+quoteattr
    stack double-escaped ampersands ('A & B' -> 'A &amp;amp; B'). An XML
    parse must round-trip the original value byte-for-byte."""
    from pyspark.sql import functions as F
    from rlis2osm_spark.functions.wkb import encode_linestring

    nasty = "Tom & Jerry's <Diner> \"Ltd\""
    geom = encode_linestring([(100.0, 200.0), (300.0, 400.0)])
    df = spark.createDataFrame([(geom,)], "geometry binary").select(
        "geometry",
        F.create_map(F.lit("name"), F.lit(nasty)).alias("tags"))
    write_osm_xml(df.coalesce(1), str(tmp_path / "osm")).collect()
    (frag,) = glob.glob(str(tmp_path / "osm" / "part-*.osm"))
    (way,) = ET.parse(frag).getroot().findall("way")
    tags = {t.get("k"): t.get("v") for t in way.findall("tag")}
    assert tags["name"] == nasty
    # the raw bytes carry the single-escaped form
    raw = open(frag).read()
    assert "Tom &amp; Jerry" in raw and "&amp;amp;" not in raw


def test_nodes_are_wgs84(spark, synth_dir, tmp_path):
    """ADVICE r1: the sink must reproject EPSG:2913 feet to lat/lon (the
    reference's `ogr2osm -e 2913`); raw feet are not valid OSM XML."""
    streets = spark.read.parquet(f"{synth_dir}/streets.parquet")
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet")
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    out = repair_and_filter_tags(combine(streets, trails, bikes))
    write_osm_xml(out.coalesce(1), str(tmp_path / "osm")).collect()
    root = ET.parse(glob.glob(str(tmp_path / "osm" / "part-*.osm"))[0]).getroot()
    nodes = root.findall("node")
    assert nodes
    for n in nodes:
        lat, lon = float(n.get("lat")), float(n.get("lon"))
        # synthetic extent is the Portland metro area in EPSG:2913
        assert 44.5 < lat < 47.5, lat
        assert -124.5 < lon < -119.0, lon


def test_merge_single_artifact(spark, synth_dir, tmp_path):
    """S8 completion: one rlis.osm (reference main.py:248-257), nodes
    deduplicated across fragments, every way ref resolvable."""
    from rlis2osm_spark.operators.osm_sink import merge_fragments

    combined = combine(*(spark.read.parquet(f"{synth_dir}/{n}.parquet")
                         for n in ("streets", "trails", "bike_routes")))
    dest = str(tmp_path / "rlis.osm")
    frags = write_osm_xml(repair_and_filter_tags(combined).repartition(4),
                          str(tmp_path / "frags")).collect()
    info = merge_fragments(str(tmp_path / "frags"), dest,
                           expect_fragments=len(frags))
    assert info["n_fragments"] >= 2 and info["dest"] == dest

    root = ET.parse(dest).getroot()
    node_ids = [n.get("id") for n in root.findall("node")]
    assert len(node_ids) == len(set(node_ids)) == info["n_nodes"]
    ways = root.findall("way")
    assert len(ways) == info["n_ways"] == combined.count()
    id_set = set(node_ids)
    for w in ways:
        for nd in w.findall("nd"):
            assert nd.get("ref") in id_set
    # shared endpoints across fragments collapsed: fragments together hold
    # more node lines than the merged artifact keeps
    frag_nodes = sum(
        len(ET.parse(f).getroot().findall("node"))
        for f in glob.glob(str(tmp_path / "frags" / "part-*.osm")))
    assert frag_nodes >= info["n_nodes"]


def test_merge_detects_node_id_collision(tmp_path):
    from rlis2osm_spark.operators.osm_sink import merge_fragments

    d = tmp_path / "frags"
    d.mkdir()
    head = ("<?xml version='1.0' encoding='UTF-8'?>\n"
            "<osm version='0.6' generator='rlis2osm_spark'>\n")
    (d / "part-00000.osm").write_text(
        head + "  <node id='-5' visible='true' lat='45.1' lon='-122.2' />\n</osm>\n")
    (d / "part-00001.osm").write_text(
        head + "  <node id='-5' visible='true' lat='45.9' lon='-122.2' />\n</osm>\n")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="collision"):
        merge_fragments(str(d), str(tmp_path / "out.osm"))


def test_merge_rejects_foreign_fragments(tmp_path):
    """ADVICE r2: a hand-edited / foreign part-*.osm must be rejected, not
    silently mis-parsed by the line-prefix scan."""
    from rlis2osm_spark.operators.osm_sink import merge_fragments

    d = tmp_path / "frags"
    d.mkdir()
    (d / "part-00000.osm").write_text(
        "<?xml version='1.0'?>\n<osm generator='JOSM'>\n"
        "<node id='-5' lat='45.1' lon='-122.2' />\n</osm>\n")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="foreign"):
        merge_fragments(str(d), str(tmp_path / "out.osm"))
    # fragment-count cross-check (writer stats vs directory contents)
    head = ("<?xml version='1.0' encoding='UTF-8'?>\n"
            "<osm version='0.6' generator='rlis2osm_spark'>\n")
    (d / "part-00000.osm").write_text(head + "</osm>\n")
    with _pytest.raises(ValueError, match="count mismatch"):
        merge_fragments(str(d), str(tmp_path / "out.osm"),
                        expect_fragments=2)


def test_projection_roundtrip():
    import numpy as np

    from rlis2osm_spark.spatial.proj import feet_to_lonlat, lonlat_to_feet

    # Pioneer Courthouse Square: known RLIS-grid ballpark (~7.64M, ~683k ft)
    x, y = lonlat_to_feet(-122.67917, 45.51898)
    assert abs(x - 7_643_612.0) < 5.0 and abs(y - 682_839.6) < 5.0
    rng = np.random.default_rng(7)
    lons = rng.uniform(-123.5, -121.5, 500)
    lats = rng.uniform(45.0, 46.2, 500)
    rl, rp = feet_to_lonlat(*lonlat_to_feet(lons, lats))
    assert np.max(np.abs(rl - lons)) < 1e-9
    assert np.max(np.abs(rp - lats)) < 1e-9


def test_rerun_with_fewer_partitions_drops_stale_fragments(spark, synth_dir,
                                                           tmp_path):
    """A rerun into the same out_dir with fewer partitions must not leave
    stale fragments for the merge to silently double-count."""
    streets = spark.read.parquet(f"{synth_dir}/streets.parquet")
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet")
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    out = repair_and_filter_tags(combine(streets, trails, bikes))
    n = out.count()
    d = str(tmp_path / "osm")
    write_osm_xml(out.repartition(4), d).collect()
    assert len(glob.glob(f"{d}/part-*.osm")) == 4
    write_osm_xml(out.coalesce(2), d).collect()  # rerun, fewer partitions
    assert len(glob.glob(f"{d}/part-*.osm")) == 2

    from rlis2osm_spark.operators.osm_sink import merge_fragments

    info = merge_fragments(d, str(tmp_path / "rlis.osm"))
    assert info["n_ways"] == n  # not doubled by stale fragments


def test_merge_rejects_mixed_generation_via_manifest(spark, synth_dir,
                                                     tmp_path):
    """ADVICE r3: the writer records the promoted fragment set in
    _fragments.json BEFORE promotion; merge_fragments validates against it
    by default, so a crash mid-promotion (stale old fragment still present,
    or a promoted fragment missing) is rejected, never silently merged."""
    import pytest as _pytest

    from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
    from rlis2osm_spark.operators.osm_sink import merge_fragments

    streets = spark.read.parquet(f"{synth_dir}/streets.parquet").limit(40)
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet").limit(10)
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    sink = repair_and_filter_tags(combine(streets, trails, bikes))
    d = tmp_path / "frags"
    write_osm_xml(sink.repartition(2), str(d)).collect()

    # clean merge passes
    merge_fragments(str(d), str(tmp_path / "ok.osm"))

    # a stale fragment from an older generation appears -> reject
    head = ("<?xml version='1.0' encoding='UTF-8'?>\n"
            "<osm version='0.6' generator='rlis2osm_spark'>\n")
    stale = d / "part-00099.osm"
    stale.write_text(head + "</osm>\n")
    with _pytest.raises(ValueError, match="manifest"):
        merge_fragments(str(d), str(tmp_path / "bad.osm"))
    stale.unlink()

    # a promoted fragment vanished -> reject
    victim = sorted(d.glob("part-*.osm"))[0]
    victim.unlink()
    with _pytest.raises(ValueError, match="manifest"):
        merge_fragments(str(d), str(tmp_path / "bad2.osm"))


def test_merge_rejects_same_name_stale_content(spark, synth_dir, tmp_path):
    """Review r4: a crash mid-promotion can leave the SAME fragment names
    but mixed old/new content — the manifest's content digests must catch
    it (the name-set check cannot)."""
    import pytest as _pytest

    from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
    from rlis2osm_spark.operators.osm_sink import merge_fragments

    streets = spark.read.parquet(f"{synth_dir}/streets.parquet").limit(30)
    trails = spark.read.parquet(f"{synth_dir}/trails.parquet").limit(10)
    bikes = spark.read.parquet(f"{synth_dir}/bike_routes.parquet")
    sink = repair_and_filter_tags(combine(streets, trails, bikes))
    d = tmp_path / "frags"
    write_osm_xml(sink.repartition(2), str(d)).collect()
    merge_fragments(str(d), str(tmp_path / "ok.osm"))  # clean passes

    # simulate: one fragment is a stale old generation with the same name
    victim = sorted(d.glob("part-*.osm"))[1]
    content = victim.read_text()
    victim.write_text(content.replace("</osm>", "  \n</osm>"))
    with _pytest.raises(ValueError, match="content does not match"):
        merge_fragments(str(d), str(tmp_path / "bad.osm"))
