"""Property-based tests (hypothesis) for the parity-critical scalar layers —
structural invariants that hold for ANY input, complementing the golden
fixtures."""

import re
import struct

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from rlis2osm_spark.functions.expand import (
    build_positional_dicts,
    expand_basename_py,
)
from rlis2osm_spark.functions.titlecase_port import rlis_titlecase
from rlis2osm_spark.functions import wkb

DICTS = build_positional_dicts()

name_alphabet = st.sampled_from(
    list("ABCDEFGHIJKLMNOPQRSTUVWXYZ") + list("abcdefgh0123456789") +
    [" ", "/", "-", "."])
names = st.text(alphabet=name_alphabet, min_size=0, max_size=40)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(names)
def test_basename_preserves_separator_structure(name):
    """Expansion rewrites words, never separators: splitting input and
    output on the same separator regex yields identical separator runs —
    valid whenever no replaced word expands to a multi-word value (those,
    e.g. TC -> 'Transit Center', legitimately add interior spaces)."""
    from hypothesis import assume

    out = expand_basename_py(name, DICTS)
    if not name:
        assert out == name
        return
    sep_rx = re.compile(r"([ /]+)")
    multiword = {
        k for d in DICTS.values() for k, v in d.items()
        if " " in v or "/" in v
    }
    words = [t for t in sep_rx.split(name.replace(".", ""))
             if t and not re.fullmatch(r"[ /]+", t)]
    assume(not any(w.upper() in multiword for w in words))
    for p_in, p_out in zip(name.replace(".", "").split("-"), out.split("-")):
        seps_in = [t for t in sep_rx.split(p_in.strip()) if t and re.fullmatch(r"[ /]+", t)]
        seps_out = [t for t in sep_rx.split(p_out) if t and re.fullmatch(r"[ /]+", t)]
        assert seps_in == seps_out


@settings(max_examples=300, deadline=None, derandomize=True)
@given(names)
def test_basename_word_count_stable(name):
    """One word in -> one (possibly multi-token) replacement out: dash-part
    count is invariant."""
    out = expand_basename_py(name, DICTS)
    if name:
        assert out.count("-") == name.replace(".", "").count("-")


@settings(max_examples=300, deadline=None, derandomize=True)
@given(names)
def test_titlecase_total_and_space_preserving(name):
    """The titlecase port never throws and preserves single-space word
    structure for space-separated input."""
    out = rlis_titlecase(name)
    assert isinstance(out, str)
    lowered = (name or "").lower()
    assert len(out.split(" ")) == len(lowered.split(" ")) if lowered else out == ""


coords = st.lists(
    st.tuples(
        st.floats(min_value=-1e7, max_value=1e7, allow_nan=False),
        st.floats(min_value=-1e7, max_value=1e7, allow_nan=False),
    ),
    min_size=2, max_size=12,
)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(coords)
def test_wkb_roundtrip(pts):
    enc = wkb.encode_linestring(pts)
    dec = wkb.decode_linestring(enc)
    assert [(float(x), float(y)) for x, y in dec] == [
        (float(x), float(y)) for x, y in pts]
    fx, fy, tx, ty = np.frombuffer(
        wkb.endpoint_slices_batch(pa.array([enc])).tobytes(), "<f8")
    assert (fx, fy) == (float(pts[0][0]), float(pts[0][1]))
    assert (tx, ty) == (float(pts[-1][0]), float(pts[-1][1]))


@settings(max_examples=50, deadline=None, derandomize=True)
@given(st.lists(coords, min_size=1, max_size=4))
def test_wkb_multi_roundtrip_and_explode(lines):
    enc = wkb.encode_multilinestring(lines)
    parts = wkb.explode_parts(enc)
    assert len(parts) == len(lines)
    for part, line in zip(parts, lines):
        dec = wkb.decode_linestring(part)
        assert [(float(x), float(y)) for x, y in dec] == [
            (float(x), float(y)) for x, y in line]


geometries = st.one_of(
    st.none(),
    coords.map(lambda pts: struct.pack("<BI2d", 1, wkb.WKB_POINT, *pts[0])),
    coords.map(wkb.encode_linestring),
    st.lists(coords, max_size=4).map(wkb.encode_multilinestring),
)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(geometries, max_size=8), st.integers(0, 3))
def test_vertices_batch_matches_per_blob_decode(geoms, skip):
    """The whole-buffer vertex gather equals the per-blob decoders, on a
    sliced array too (non-zero offset into the buffers)."""
    geoms = [None] * skip + geoms
    coords_out, counts, types = wkb.vertices_batch(
        pa.array(geoms, pa.binary()).slice(skip))
    want, want_counts = [], []
    for g in geoms[skip:]:
        if g is None:
            want_counts.append(0)
            continue
        if wkb.geom_type(g) == wkb.WKB_POINT:
            parts = [np.array([struct.unpack_from("<2d", g, 5)])]
        else:
            parts = wkb.decode_lines(g)
        want.extend(parts)
        want_counts.append(sum(map(len, parts)))
    want = np.concatenate(want) if want else np.empty((0, 2))
    assert coords_out.tobytes() == want.astype("<f8").tobytes()
    assert counts.tolist() == want_counts
    assert types.tolist() == [0 if g is None else wkb.geom_type(g)
                              for g in geoms[skip:]]


@settings(max_examples=100, deadline=None, derandomize=True)
@given(coords, st.integers(min_value=1, max_value=5))
def test_linemerge_conserves_segments(pts, n_chains):
    """linemerge over a simple chain returns one line with all points."""
    segs = [wkb.encode_linestring([pts[i], pts[i + 1]])
            for i in range(len(pts) - 1)]
    merged = wkb.linemerge_wkb(segs)
    out = wkb.decode_lines(merged)
    total_pts = sum(len(l) for l in out)
    # conservation: every original vertex appears; duplicates collapse at
    # shared endpoints of merged runs
    assert total_pts <= 2 * len(segs)
    assert total_pts >= len(set((float(x), float(y)) for x, y in pts)) - len(out)


# ---------------------------------------------------------------------------
# Codec properties (r5): the progressive encoder/decoder pair must agree
# with baseline on ARBITRARY images — hypothesis explores dims and content
# the hand-picked differential cases don't.
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=0, max_value=2 ** 31 - 1))
def test_progressive_equals_baseline_decode(w, h, seed):
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_gray, encode_jpeg_progressive)

    img = np.random.default_rng(seed).integers(
        0, 256, (h, w), dtype=np.uint8).tobytes()
    assert decode_jpeg(encode_jpeg_progressive(w, h, img)) == \
        decode_jpeg(encode_jpeg_gray(w, h, img))


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.integers(min_value=1, max_value=24),
       st.integers(min_value=1, max_value=24),
       st.integers(min_value=1, max_value=4),
       st.integers(min_value=0, max_value=2 ** 31 - 1))
def test_dib_avi_roundtrip(w, h, n_frames, seed):
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_avi_frames, decode_dib_frame, encode_avi_raw)

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
              for _ in range(n_frames)]
    dw, dh, codec, fr = decode_avi_frames(encode_avi_raw(frames, w, h))
    assert (dw, dh, codec, len(fr)) == (w, h, "dib", n_frames)
    for g, f in zip(frames, fr):
        _, _, _, px = decode_dib_frame(f, w, h)
        rgb = np.frombuffer(px, np.uint8).reshape(h, w, 3)
        assert np.array_equal(
            rgb[:, :, 0], np.frombuffer(g, np.uint8).reshape(h, w))
