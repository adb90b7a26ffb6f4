"""Round-trip + spec-conformance tests for the media codecs
(functions/codecs.py), the rejection of every mode they do not decode,
and the guard that m1's own payloads reach every line they keep."""

import struct
import zlib

import pytest

from rlis2osm_spark.functions.codecs import (
    PNG_SIG, _chunk, decode_png_ex, decode_wav, encode_jpeg_gray, encode_png,
    encode_wav)


def _pixels(w, h, seed=7):
    return bytes((seed * 31 + k * 13) % 256 for k in range(w * h))


def _decode_gray(data):
    """decode_png_ex on a grayscale stream -> (width, height, pixels)."""
    w, h, nch, px = decode_png_ex(data)
    assert nch == 1
    return w, h, px


@pytest.mark.parametrize("w,h", [(1, 1), (4, 4), (7, 3), (16, 9), (33, 2)])
@pytest.mark.parametrize("ft", [0, 1, 2])
def test_png_roundtrip(w, h, ft):
    px = _pixels(w, h)
    assert _decode_gray(encode_png(w, h, px, ft)) == (w, h, px)


def test_png_decode_average_and_paeth_filters():
    """The decoder must unfilter ALL five standard filters, not only the
    ones our encoder emits — build filter-3/4 scanlines by hand."""
    w, h = 6, 4
    px = _pixels(w, h, seed=3)
    raw = bytearray()
    prior = bytes(w)
    for r in range(h):
        row = px[r * w:(r + 1) * w]
        ft = 3 if r % 2 == 0 else 4
        raw.append(ft)
        for i in range(w):
            left = row[i - 1] if i else 0
            up = prior[i]
            ul = prior[i - 1] if i else 0
            if ft == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    up if pb <= pc else ul)
            raw.append((row[i] - pred) & 0xFF)
        prior = row
    data = (PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))
    assert _decode_gray(data) == (w, h, px)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        decode_png_ex(b"not a png at all")
    # 16-bit depth stays behind the seam, gray and color alike
    for ctype in (0, 2, 4, 6):
        deep_ihdr = struct.pack(">IIBBBBB", 2, 2, 16, ctype, 0, 0, 0)
        data = (PNG_SIG + _chunk(b"IHDR", deep_ihdr) + _chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError, match="16-bit PNG"):
            decode_png_ex(data)
    # a supported header with NO IDAT is malformed input, not a zlib crash
    gray_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    data = (PNG_SIG + _chunk(b"IHDR", gray_ihdr) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IDAT"):
        decode_png_ex(data)


def test_wav_roundtrip_and_clamp():
    samples = [0, 1, -1, 32767, -32768, 12345, -20000]
    rate, out = decode_wav(encode_wav(samples))
    assert rate == 8000 and out == samples
    # out-of-range inputs clamp rather than wrap
    _, clamped = decode_wav(encode_wav([99999, -99999]))
    assert clamped == [32767, -32768]


def test_wav_rejects_unsupported():
    with pytest.raises(ValueError):
        decode_wav(b"RIFX....nope")
    # every compressed format tag (MS-ADPCM = 2, A-law = 6, mu-law = 7,
    # IMA-ADPCM = 0x11, GSM = 0x31) and absurd channel counts hit the
    # seam
    for tag, bits in ((2, 4), (6, 8), (7, 8), (0x11, 4), (0x31, 0)):
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 4000, 1, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
        data = b"RIFF" + struct.pack("<I", len(body)) + body
        with pytest.raises(NotImplementedError):
            decode_wav(data)
    fmt = struct.pack("<HHIIHH", 1, 64, 8000, 96000, 128, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 0))
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(NotImplementedError):
        decode_wav(data)


# ---------------------------------------------------------------------------
# property-based round trips (hypothesis, derandomized like test_properties)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=150, deadline=None, derandomize=True)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    ft=st.sampled_from([0, 1, 2]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(w, h, ft, seed):
    px = bytes((seed * 31 + k * 7919) % 256 for k in range(w * h))
    assert _decode_gray(encode_png(w, h, px, ft)) == (w, h, px)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(samples=st.lists(st.integers(min_value=-32768, max_value=32767),
                        min_size=0, max_size=400))
def test_wav_roundtrip_property(samples):
    assert decode_wav(encode_wav(samples)) == (8000, samples)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(data=st.binary(min_size=0, max_size=200),
       seed=st.sampled_from([0, 42, 123456789]))
def test_xxh64_matches_streamed_identity(data, seed):
    """Pure-Python XXH64 structural properties: stable under re-call,
    signed view round-trips, and the 32-byte stripe boundary behaves
    (values around the n>=32 branch differ from their neighbors)."""
    from rlis2osm_spark.functions.xxh64 import xxh64, xxh64_signed

    h1, h2 = xxh64(data, seed), xxh64(data, seed)
    assert h1 == h2 and 0 <= h1 < (1 << 64)
    assert xxh64_signed(data) % (1 << 64) == xxh64(data)
    if data:
        assert xxh64(data[:-1], seed) != h1  # suffix sensitivity


# ---------------------------------------------------------------------------
# GIF (r4: pure-Python LZW over the public GIF89a spec)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("w,h", [(1, 1), (3, 7), (16, 16), (40, 13)])
@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip(w, h, interlace):
    from rlis2osm_spark.functions.codecs import decode_gif_frames, encode_gif

    px = _pixels(w, h)
    assert decode_gif_frames(encode_gif(w, h, px, interlace=interlace)) == \
        (w, h, [px])


def test_gif_decodes_real_compressed_stream():
    """The decoder must handle what a REAL compressing LZW encoder emits —
    growing code widths (9 -> 12 bits), the KwKwK case, table saturation at
    4096 — not just our literal-coded writer's 9-bit streams."""
    import struct

    from rlis2osm_spark.functions.codecs import (
        _GIF_GRAY_PALETTE, decode_gif_frames)

    def compress(min_code, data):
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, width = eoi + 1, min_code + 1
        out, w = [(clear, width)], b""
        for ch in data:
            wc = w + bytes([ch])
            if wc in table:
                w = wc
                continue
            out.append((table[w], width))
            if next_code < 4096:
                table[wc] = next_code
                next_code += 1
                if next_code == (1 << width) + 1 and width < 12:
                    width += 1
            w = bytes([ch])
        out.append((table[w], width))
        out.append((eoi, width))
        return out

    data = bytes((i * i + i // 3) % 200 for i in range(5000))
    codes = compress(8, data)
    assert max(cw for _, cw in codes) == 12  # the stream really grows
    bitbuf = bitlen = 0
    packed = bytearray()
    for code, cw in codes:
        bitbuf |= code << bitlen
        bitlen += cw
        while bitlen >= 8:
            packed.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitlen -= 8
    if bitlen:
        packed.append(bitbuf & 0xFF)
    head = (b"GIF89a" + struct.pack("<HHBBB", 100, 50, 0xF7, 0, 0)
            + _GIF_GRAY_PALETTE
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, 100, 50, 0) + b"\x08")
    body = bytearray()
    for i in range(0, len(packed), 255):
        c = packed[i:i + 255]
        body.append(len(c))
        body += c
    body.append(0)
    assert decode_gif_frames(head + bytes(body) + b"\x3B") == \
        (100, 50, [data])


def test_gif_skips_extensions_and_maps_palette():
    """GIF89a extensions (graphic control etc.) are skipped; non-gray
    palettes map through the exact integer luma."""
    import struct

    from rlis2osm_spark.functions.codecs import decode_gif_frames, encode_gif

    g = encode_gif(4, 4, _pixels(4, 4))
    # splice a graphic-control extension between the palette and the image
    split = 13 + 768
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    assert decode_gif_frames(g[:split] + ext + g[split:]) == \
        decode_gif_frames(g)

    # 2-entry global palette: red (luma 76) and white (luma 255).
    # Spec-minimum LZW code size is 2 (clear=4, eoi=5, initial width 3);
    # the width grows to 4 bits exactly when next_code reaches 8.
    pal = bytes((255, 0, 0)) + bytes((255, 255, 255))
    codes = [(4, 3), (0, 3), (1, 3), (0, 3), (1, 4), (5, 4)]  # clear,0,1,0,1,eoi
    bitbuf = bitlen = 0
    packed = bytearray()
    for code, cw in codes:
        bitbuf |= code << bitlen
        bitlen += cw
        while bitlen >= 8:
            packed.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitlen -= 8
    if bitlen:
        packed.append(bitbuf & 0xFF)
    raw = (b"GIF87a" + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0) + pal
           + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
           + b"\x02" + bytes([len(packed)]) + bytes(packed) + b"\x00\x3B")
    assert decode_gif_frames(raw) == (2, 2, [bytes((76, 255, 76, 255))])


def test_gif_rejects_unsupported():
    from rlis2osm_spark.functions.codecs import decode_gif_frames, encode_gif

    with pytest.raises(ValueError):
        decode_gif_frames(b"NOTAGIF")
    with pytest.raises(ValueError):
        encode_gif(2, 2, b"abc")  # wrong pixel count
    truncated = encode_gif(4, 4, _pixels(4, 4))[:20]
    with pytest.raises((ValueError, struct.error)):
        decode_gif_frames(truncated)


def test_image_seam_routes_gif_and_audio_seam_rejects_avi(spark):
    """Real decoding: gif payloads decode for real; a RIFF container
    that is NOT WAVE (e.g. AVI) hits the documented NotImplementedError
    seam, not a bare ValueError mid-job (ADVICE r3)."""
    from pyspark.errors.exceptions.captured import PythonException

    from rlis2osm_spark.functions.codecs import encode_gif
    from rlis2osm_spark.operators.multimodal import (
        extract_audio_features, extract_image_features)

    gif = encode_gif(3, 2, bytes(range(6)), interlace=True)
    df = spark.createDataFrame([("m:1", gif)], "media_ref string, payload binary")
    row = extract_image_features(df, decode_stub=False).collect()[0]
    assert (row.format_guess, row.width, row.height) == ("gif", 3, 2)
    assert row.px_sum == sum(range(6))

    avi = b"RIFF" + b"\x00\x00\x00\x00" + b"AVI " + b"\x00" * 16
    bad = spark.createDataFrame([("m:2", avi)], "media_ref string, payload binary")
    with pytest.raises(PythonException, match="NotImplementedError"):
        extract_audio_features(bad).collect()


# ---------------------------------------------------------------------------
# JPEG (r4: baseline sequential grayscale, pure Python + numpy per T.81)
# ---------------------------------------------------------------------------

def _const_block_image(bw, bh, seed):
    import numpy as np

    img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
    for k in range(bw * bh):
        by, bx = divmod(k, bw)
        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
            2 * ((seed * 37 + k * 29) % 128)
    return img


@pytest.mark.parametrize("bw,bh", [(1, 1), (3, 2), (5, 4)])
@pytest.mark.parametrize("restart_every", [0, 1, 3])
def test_jpeg_exact_on_even_constant_blocks(bw, bh, restart_every):
    """Even-valued constant 8x8 blocks are the DCT-exact subclass: DC-only
    spectra whose quantize->dequantize round-trips bit-for-bit ((v-128)*8
    divisible by q00=16). The lossy codec must reproduce them EXACTLY,
    with and without restart markers (DRI + RSTn + DC-predictor reset)."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_gray)

    img = _const_block_image(bw, bh, seed=11)
    data = encode_jpeg_gray(bw * 8, bh * 8, img.tobytes(),
                            restart_every=restart_every)
    w, h, _, px = decode_jpeg(data)
    assert (w, h) == (bw * 8, bh * 8)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(h, w), img)


def test_jpeg_lossy_bound_on_smooth_image():
    """Arbitrary smooth content: decoded output must sit within a tight
    quantization-error bound of the source (the codec is really doing
    DCT + quant, not a passthrough)."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_gray)

    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    img = (128 + 60 * np.sin(xx / 10) + 50 * np.cos(yy / 9)
           ).clip(0, 255).astype(np.uint8)
    _, _, _, px = decode_jpeg(encode_jpeg_gray(64, 48, img.tobytes()))
    err = np.abs(np.frombuffer(px, np.uint8).reshape(48, 64).astype(int)
                 - img.astype(int))
    assert err.max() <= 12 and err.mean() < 3


def test_jpeg_odd_dims_and_rejects():
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_gray)

    img = (np.arange(13 * 9) % 250).astype(np.uint8)
    w, h, _, px = decode_jpeg(encode_jpeg_gray(13, 9, img.tobytes()))
    assert (w, h) == (13, 9) and len(px) == 117

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    with pytest.raises(ValueError):
        encode_jpeg_gray(4, 4, b"wrong size")
    # every frame type other than SOF0/1/2 hits the seam: differential
    # (SOF5), lossless (SOF3) and arithmetic (SOF9/10/11) relabels of a
    # baseline stream, a DHP pyramid header, a 12-bit SOF1 and a
    # 4-component SOF0
    base = encode_jpeg_gray(8, 8, bytes(64))
    sof0 = base.find(b"\xff\xc0")
    for marker in (0xC5, 0xC3, 0xC9, 0xCA, 0xCB):
        relabeled = base[:sof0] + bytes([0xFF, marker]) + base[sof0 + 2:]
        with pytest.raises(NotImplementedError, match="hierarchical"):
            decode_jpeg(relabeled)
    dhp = b"\xff\xde\x00\x0b" + base[sof0 + 4:sof0 + 13]
    with pytest.raises(NotImplementedError):
        decode_jpeg(base[:sof0] + dhp + base[sof0:])
    ext12 = bytearray(base)
    ext12[sof0 + 1], ext12[sof0 + 4] = 0xC1, 12
    ncomp4 = bytearray(base)
    ncomp4[sof0 + 9] = 4
    for bad in (ext12, ncomp4):
        with pytest.raises(NotImplementedError, match="8-bit"):
            decode_jpeg(bytes(bad))
    # a baseline scan header mislabeled SOF2 is malformed (a progressive
    # DC scan cannot span Se=63) — ValueError, not silent nonsense
    mislabeled = base[:sof0] + b"\xff\xc2" + base[sof0 + 2:]
    with pytest.raises(ValueError):
        decode_jpeg(mislabeled)


def test_progressive_jpeg_missing_dht_is_valueerror():
    """A progressive stream whose scan references an undefined huffman
    table (DHT stripped) is malformed input -> ValueError, not a raw
    TypeError from iterating None (ADVICE r5)."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (decode_jpeg,
                                                 encode_jpeg_progressive)

    img = (np.arange(16 * 16) % 251).astype(np.uint8)
    data = encode_jpeg_progressive(16, 16, img.tobytes())
    # drop every DHT (FFC4) segment; scans then reference missing tables
    out, pos = bytearray(), 0
    while pos < len(data) - 1:
        if data[pos] == 0xFF and data[pos + 1] == 0xC4:
            seglen = int.from_bytes(data[pos + 2:pos + 4], "big")
            pos += 2 + seglen
        else:
            out.append(data[pos])
            pos += 1
    out.extend(data[pos:])
    with pytest.raises(ValueError):
        decode_jpeg(bytes(out))


# ---------------------------------------------------------------------------
# MJPEG-in-AVI video container (r4)
# ---------------------------------------------------------------------------

def test_avi_mjpeg_roundtrip_and_frame_decode():
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_avi_frames, decode_jpeg, encode_avi_mjpeg,
        encode_jpeg_gray)

    w, h = 24, 16
    imgs = [_const_block_image(3, 2, seed=s) for s in range(5)]
    frames = [encode_jpeg_gray(w, h, im.tobytes()) for im in imgs]
    avi = encode_avi_mjpeg(frames, w, h)
    w2, h2, codec, out = decode_avi_frames(avi)
    assert (w2, h2, codec) == (w, h, "mjpg") and out == frames
    for f, im in zip(out, imgs):
        _, _, _, px = decode_jpeg(f)
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(h, w), im)


def test_avi_rejects_and_seam():
    from rlis2osm_spark.functions.codecs import (
        decode_avi_frames, encode_avi_mjpeg, encode_jpeg_gray)

    with pytest.raises(ValueError):
        decode_avi_frames(b"RIFF\x00\x00\x00\x00WAVE")  # not AVI
    with pytest.raises(ValueError):
        encode_avi_mjpeg([], 8, 8)
    frame = encode_jpeg_gray(8, 8, bytes(64))
    avi = encode_avi_mjpeg([frame], 8, 8)
    h264 = avi.replace(b"vidsMJPG", b"vidsH264", 1)
    with pytest.raises(NotImplementedError, match="MJPG"):
        decode_avi_frames(h264)


def test_extract_video_frames_operator(spark):
    """The video path end-to-end at the operator boundary: container parse
    + every-second-frame sampling + per-frame JPEG decode with exact
    pixel sums."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        encode_avi_mjpeg, encode_jpeg_gray)
    from rlis2osm_spark.operators.multimodal import extract_video_frames

    rows = []
    expected = {}
    for i in range(6):
        n = 2 + i % 3
        frames, sums = [], []
        for f in range(n):
            im = _const_block_image(2, 1, seed=i * 10 + f)
            frames.append(encode_jpeg_gray(16, 8, im.tobytes()))
            sums.append(int(im.sum()))
        rows.append((f"v:{i}", encode_avi_mjpeg(frames, 16, 8)))
        expected[f"v:{i}"] = {(idx, sums[idx]) for idx in range(0, n, 2)}
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = extract_video_frames(df).collect()
    by_ref: dict = {}
    for r in got:
        assert (r.width, r.height) == (16, 8)
        by_ref.setdefault(r.media_ref, set()).add((r.frame_idx, r.px_sum))
    assert by_ref == expected


def test_jpeg_tolerates_fill_bytes():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker;
    real encoders emit them for alignment (review r4)."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_gray)

    img = _const_block_image(2, 2, seed=5)
    data = encode_jpeg_gray(16, 16, img.tobytes())
    padded = data[:2] + b"\xff\xff\xff" + data[2:]
    w, h, _, px = decode_jpeg(padded)
    assert (w, h) == (16, 16)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(16, 16), img)


def test_gif_and_jpeg_truncation_raises_valueerror():
    """The codec error contract at the operator seam: malformed/truncated
    input raises ValueError, never a bare IndexError/KeyError (review r4)."""
    from rlis2osm_spark.functions.codecs import (
        decode_gif_frames, decode_jpeg, encode_gif, encode_jpeg_gray)

    g = encode_gif(16, 16, _pixels(16, 16))
    j = encode_jpeg_gray(16, 16, _pixels(16, 16))
    for cut in (13, 20, len(g) - 5, 796 if len(g) > 796 else len(g) - 1):
        with pytest.raises(ValueError):
            decode_gif_frames(g[:cut])
    # mid-extension truncation
    ext = g[:13 + 768] + b"\x21\xf9\x04"
    with pytest.raises(ValueError):
        decode_gif_frames(ext)
    # truncated entropy data must raise — including shave-the-tail cuts:
    # consuming even one zero-fill bit past end-of-stream means the final
    # MCU(s) decoded fabricated coefficients (ADVICE r4 — the old slack
    # window silently accepted up to ~8 fabricated bytes)
    big = encode_jpeg_gray(64, 64, _pixels(64, 64))
    for cut in (4, 30, int(len(big) * 0.6), len(big) - 5, len(big) - 3):
        with pytest.raises(ValueError):
            decode_jpeg(big[:cut])
    # losing ONLY the EOI marker leaves the entropy data intact: decode
    # succeeds and the pixels are still exact (nothing fabricated)
    assert decode_jpeg(big) == decode_jpeg(big[:-2])


@pytest.mark.parametrize("subsampling", ["4:4:4", "4:2:0"])
def test_jpeg_color_decode_luma(subsampling):
    """Interleaved 3-component baseline color (per-component sampling
    factors, quant and huffman table ids) with neutral chroma decodes to
    R=G=B=luma — exact on even-constant blocks, quantization-bounded on
    smooth content."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import decode_jpeg, encode_jpeg_color

    def luma(blob, w, h):
        dw, dh, nch, px = decode_jpeg(blob)
        assert (dw, dh, nch) == (w, h, 3)
        rgb = np.frombuffer(px, np.uint8).reshape(h, w, 3)
        assert (rgb == rgb[:, :, :1]).all()  # neutral chroma: gray
        return rgb[:, :, 0]

    img = _const_block_image(4, 4, seed=21)  # 32x32: 2x2 MCUs at 4:2:0
    j = encode_jpeg_color(32, 32, img.tobytes(), subsampling=subsampling)
    assert np.array_equal(luma(j, 32, 32), img)

    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    smooth = (128 + 60 * np.sin(xx / 10) + 50 * np.cos(yy / 9)
              ).clip(0, 255).astype(np.uint8)
    js = encode_jpeg_color(64, 48, smooth.tobytes(), subsampling=subsampling)
    err = np.abs(luma(js, 64, 48).astype(int) - smooth.astype(int))
    assert err.max() <= 12 and err.mean() < 3

    # odd dims crossing the 16-px MCU tile at 4:2:0
    odd = _const_block_image(3, 2, seed=5)[:13, :21]
    jo = encode_jpeg_color(21, 13, np.ascontiguousarray(odd).tobytes(),
                           subsampling=subsampling)
    assert np.array_equal(luma(jo, 21, 13), odd)


def _expected_rgb(y, cb, cr):
    import numpy as np

    r = y.astype(float) + 1.402 * (cr.astype(float) - 128.0)
    g = (y.astype(float) - 0.344136 * (cb.astype(float) - 128.0)
         - 0.714136 * (cr.astype(float) - 128.0))
    b = y.astype(float) + 1.772 * (cb.astype(float) - 128.0)
    return np.clip(np.floor(np.stack([r, g, b], axis=-1) + 0.5),
                   0, 255).astype(np.uint8)


@pytest.mark.parametrize("subsampling", ["4:4:4", "4:2:0"])
def test_jpeg_color_decode_rgb_exact(subsampling):
    """r5 (VERDICT r4 #2): full RGB output. Chroma values 128 + 17k (17 =
    chroma DC quant step) on block-constant planes round-trip exactly, so
    decoded RGB must equal the analytic JFIF conversion bit-for-bit —
    including clamped channels."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_color)

    img = _const_block_image(4, 4, seed=21)  # 32x32
    hy = 2 if subsampling == "4:2:0" else 1
    cw = 32 // hy
    # chroma constant per 8x8 chroma BLOCK, different across blocks:
    # exercises the upsample geometry, stays DC-only exact
    ks = np.arange(cw // 8 * (cw // 8)).reshape(cw // 8, cw // 8) % 5 - 2
    cb_small = np.kron(128 + 17 * ks, np.ones((8, 8), int)).astype(np.uint8)
    ks2 = (np.arange(cw // 8 * (cw // 8)).reshape(cw // 8, cw // 8) * 3) % 5 - 2
    cr_small = np.kron(128 + 17 * ks2, np.ones((8, 8), int)).astype(np.uint8)

    j = encode_jpeg_color(32, 32, img.tobytes(), subsampling=subsampling,
                          cb_pixels=cb_small.tobytes(),
                          cr_pixels=cr_small.tobytes())
    w, h, nch, px = decode_jpeg(j)
    assert (w, h, nch) == (32, 32, 3)
    got = np.frombuffer(px, np.uint8).reshape(32, 32, 3)

    # nearest upsample expectation: output (x, y) -> chroma (x//hy, y//hy)
    idx = np.arange(32) // hy
    cb_full = cb_small[np.ix_(idx, idx)]
    cr_full = cr_small[np.ix_(idx, idx)]
    assert np.array_equal(got, _expected_rgb(img, cb_full, cr_full))

    # gray stream through the same API: 1 channel, identical plane
    from rlis2osm_spark.functions.codecs import encode_jpeg_gray
    g = encode_jpeg_gray(32, 32, img.tobytes())
    wg, hg, nchg, pxg = decode_jpeg(g)
    assert (wg, hg, nchg) == (32, 32, 1)
    assert np.array_equal(np.frombuffer(pxg, np.uint8).reshape(32, 32), img)


def test_jpeg_progressive_matches_baseline_decode():
    """r5 stretch (VERDICT r4 #8): progressive (SOF2) decode. The
    progressive encoder emits the SAME quantized coefficients as the
    baseline encoder through a DC-first/refine + per-band AC spectral
    selection with two successive-approximation refinement passes
    (EOBRUN joins, ZRL, correction bits) — so progressive decode must be
    pixel-identical to baseline decode on every input."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_gray, encode_jpeg_progressive)

    rng = np.random.default_rng(7)
    cases = []
    for w, h in [(8, 8), (16, 16), (21, 13), (64, 48), (40, 33)]:
        cases.append(rng.integers(0, 256, (h, w), dtype=np.uint8))
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        cases.append(((xx * 3 + yy * 5) % 256).astype(np.uint8))
        cases.append(np.ascontiguousarray(np.kron(
            rng.integers(0, 128, ((h + 7) // 8, (w + 7) // 8)) * 2,
            np.ones((8, 8), int))[:h, :w]).astype(np.uint8))
    for img in cases:
        h, w = img.shape
        base = decode_jpeg(encode_jpeg_gray(w, h, img.tobytes()))
        blob = encode_jpeg_progressive(w, h, img.tobytes())
        assert blob[2:4] != b"\xff\xc0"  # really SOF2, not baseline
        assert decode_jpeg(blob) == base
        assert base[:3] == (w, h, 1)

    # DCT-exact subclass: constant even blocks round-trip bit-for-bit
    img = cases[2]
    h, w = img.shape
    _, _, _, px = decode_jpeg(encode_jpeg_progressive(w, h, img.tobytes()))
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(h, w), img)


def test_jpeg_progressive_truncation_raises():
    """A progressive stream cut inside any scan must raise, same strict
    contract as baseline (zero-fill bits are never silently decoded)."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    blob = encode_jpeg_progressive(32, 32, img.tobytes())
    for cut in (int(len(blob) * 0.4), int(len(blob) * 0.7), len(blob) - 6):
        with pytest.raises(ValueError):
            decode_jpeg(blob[:cut])


def test_png_decode_all_filters_independent_writer():
    """8-bit grayscale PNG decode against an INDEPENDENT writer (filters
    applied with plain numpy, not the codec's logic), every standard
    filter cycling per row."""
    import numpy as np

    rng = np.random.default_rng(31)
    for w, h in [(1, 1), (5, 4), (16, 11)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        raw = bytearray()
        prior = np.zeros(w, dtype=np.int64)
        for r in range(h):
            row = img[r].astype(np.int64)
            ft = r % 5
            left = np.concatenate([[0], row[:-1]])
            pleft = np.concatenate([[0], prior[:-1]])
            if ft == 0:
                enc = row
            elif ft == 1:
                enc = row - left
            elif ft == 2:
                enc = row - prior
            elif ft == 3:
                enc = row - (left + prior) // 2
            else:  # Paeth
                p = left + prior - pleft
                pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                              np.abs(p - pleft))
                enc = row - np.where((pa <= pb) & (pa <= pc), left,
                                     np.where(pb <= pc, prior, pleft))
            raw.append(ft)
            raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
            prior = row
        blob = (PNG_SIG
                + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
                + _chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _chunk(b"IEND", b""))
        assert decode_png_ex(blob) == (w, h, 1, img.tobytes())


def test_bmp_decode_24_8_32bit():
    """BMP decode — 24-bit BGR (bottom-up AND top-down), 8-bit
    palettized through the BGRX table, 32-bit BGRX; 4-byte row
    alignment. Files built independently."""
    import struct as _st

    import numpy as np

    from rlis2osm_spark.functions.codecs import decode_bmp

    rng = np.random.default_rng(6)

    def bmp(width, height_signed, bits, pixel_rows, table=b"", comp=0,
            clr_used=0):
        info = _st.pack("<IiiHHIIiiII", 40, width, height_signed, 1, bits,
                        comp, len(pixel_rows), 0, 0, clr_used, 0)
        off = 14 + 40 + len(table)
        head = b"BM" + _st.pack("<IHHI", off + len(pixel_rows), 0, 0, off)
        return head + info + table + pixel_rows

    # 24-bit bottom-up with stride padding (width 3 -> stride 12)
    img = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)  # RGB truth
    rows = bytearray()
    for r in (1, 0):  # bottom-up
        for c in range(3):
            rows += bytes([img[r, c, 2], img[r, c, 1], img[r, c, 0]])
        rows += b"\x00\x00\x00"  # pad to 12
    w, h, nch, px = decode_bmp(bmp(3, 2, 24, bytes(rows)))
    assert (w, h, nch) == (3, 2, 3)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(2, 3, 3), img)

    # the same image top-down (negative height)
    rows_td = bytearray()
    for r in (0, 1):
        for c in range(3):
            rows_td += bytes([img[r, c, 2], img[r, c, 1], img[r, c, 0]])
        rows_td += b"\x00\x00\x00"
    assert decode_bmp(bmp(3, -2, 24, bytes(rows_td)))[3] == px

    # 8-bit palettized (BGRX table), width 5 -> stride 8
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)  # RGB truth
    table = b"".join(bytes([p[2], p[1], p[0], 0]) for p in pal)
    idx = rng.integers(0, 16, (3, 5), dtype=np.uint8)
    rows8 = b"".join(idx[r].tobytes() + b"\x00\x00\x00"
                     for r in (2, 1, 0))
    w, h, nch, px = decode_bmp(bmp(5, 3, 8, rows8, table, clr_used=16))
    assert (w, h, nch) == (5, 3, 3)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(3, 5, 3),
                          pal[idx])

    # 32-bit BGRX: X dropped
    rows32 = b"".join(bytes([9, 8, 7, 0xAA]) for _ in range(2))
    w, h, nch, px = decode_bmp(bmp(2, 1, 32, rows32))
    assert (w, h, nch) == (2, 1, 3)
    assert px == bytes([7, 8, 9, 7, 8, 9])

    # unknown compressions stay a loud seam
    with pytest.raises(NotImplementedError, match="compression"):
        decode_bmp(bmp(2, 1, 8, b"\x00" * 8, b"\x00" * 64, comp=6))
    with pytest.raises(ValueError):
        decode_bmp(b"not a bmp")
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(bmp(3, 2, 24, bytes(rows)[:-8]))


def test_gif_animation_compositing():
    """Animated GIF decode: each frame rect (interlaced or not) draws over
    the canvas the frames before it left, verified against an independent
    numpy compositor over the same frame plan."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        decode_gif_frames, encode_gif, encode_gif_anim)

    rng = np.random.default_rng(41)
    sw, sh = 20, 12
    plan = [
        dict(left=0, top=0, width=sw, height=sh,  # full-canvas base frame
             pixels=rng.integers(0, 256, sw * sh, dtype=np.uint8).tobytes()),
        dict(left=3, top=2, width=6, height=5, interlace=True,
             pixels=rng.integers(0, 256, 30, dtype=np.uint8).tobytes()),
        dict(left=10, top=4, width=8, height=6,
             pixels=rng.integers(0, 256, 48, dtype=np.uint8).tobytes()),
        dict(left=0, top=6, width=5, height=3,
             pixels=rng.integers(0, 256, 15, dtype=np.uint8).tobytes()),
    ]
    dw, dh, frames = decode_gif_frames(encode_gif_anim(sw, sh, plan))
    assert (dw, dh, len(frames)) == (sw, sh, len(plan))
    canvas = np.zeros((sh, sw), dtype=np.uint8)
    for i, (got, f) in enumerate(zip(frames, plan)):
        l, t, w, h = f["left"], f["top"], f["width"], f["height"]
        canvas[t:t + h, l:l + w] = np.frombuffer(
            f["pixels"], np.uint8).reshape(h, w)
        assert np.array_equal(
            np.frombuffer(got, np.uint8).reshape(sh, sw), canvas), f"frame {i}"

    # a still GIF is a one-frame animation
    g = encode_gif(8, 6, bytes(range(48)))
    assert decode_gif_frames(g) == (8, 6, [bytes(range(48))])
    with pytest.raises(ValueError):
        encode_gif_anim(4, 4, [dict(left=2, top=2, width=4, height=4,
                                    pixels=bytes(16))])  # rect overflow


def test_avi_raw_dib_roundtrip_and_codec_routing():
    """r5: uncompressed 'DIB ' AVI — bottom-up 24-bit BGR frames with
    4-byte row padding — decodes exactly; the container parser reports
    the codec so extract_video_frames can route; unknown handlers still
    hit the seam."""
    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    rng = np.random.default_rng(2)
    # odd width exercises the stride padding
    for w, h in [(16, 8), (10, 5), (7, 3)]:
        frames = [rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
                  for _ in range(3)]
        blob = C.encode_avi_raw(frames, w, h)
        dw, dh, codec, fr = C.decode_avi_frames(blob)
        assert (dw, dh, codec, len(fr)) == (w, h, "dib", 3)
        for g, f in zip(frames, fr):
            fw, fh, nch, px = C.decode_dib_frame(f, dw, dh)
            rgb = np.frombuffer(px, np.uint8).reshape(fh, fw, 3)
            gray = np.frombuffer(g, np.uint8).reshape(h, w)
            assert nch == 3
            for c in range(3):  # B=G=R replication round-trips exactly
                assert np.array_equal(rgb[:, :, c], gray)
    jb = C.encode_jpeg_gray(16, 8, bytes(128 for _ in range(128)))
    mb = C.encode_avi_mjpeg([jb], 16, 8)
    assert C.decode_avi_frames(mb)[2:] == ("mjpg", [jb])
    with pytest.raises(NotImplementedError, match="XVID"):
        C.decode_avi_frames(mb.replace(b"vidsMJPG", b"vidsXVID"))
    # MS-RLE is a seam too, whether the handler names it or a zeroed
    # handler leaves it to the strf biCompression field (BI_RLE8 = 1)
    raw = C.encode_avi_raw([bytes(128)], 16, 8)
    with pytest.raises(NotImplementedError, match="MRLE"):
        C.decode_avi_frames(raw.replace(b"vidsDIB ", b"vidsMRLE"))
    zeroed = bytearray(raw.replace(b"vidsDIB ", b"vids\x00\x00\x00\x00"))
    strf = zeroed.index(b"strf") + 8
    zeroed[strf + 16:strf + 20] = struct.pack("<I", 1)
    with pytest.raises(NotImplementedError, match="biCompression 1"):
        C.decode_avi_frames(bytes(zeroed))
    with pytest.raises(ValueError):
        C.decode_dib_frame(b"\x00" * 10, 16, 8)  # truncated frame


# ---------------------------------------------------------------------------
# BMP RLE8 and bitfields, 24-bit WAV
# ---------------------------------------------------------------------------

def _bmp_file(width, height_signed, bits, pixel_rows, table=b"", comp=0,
              clr_used=0):
    import struct as _st

    info = _st.pack("<IiiHHIIiiII", 40, width, height_signed, 1, bits,
                    comp, len(pixel_rows), 0, 0, clr_used, 0)
    off = 14 + 40 + len(table)
    head = b"BM" + _st.pack("<IHHI", off + len(pixel_rows), 0, 0, off)
    return head + info + table + pixel_rows


def test_bmp_rle_decode():
    """BI_RLE8: encoded runs, absolute mode with word alignment, EOL /
    EOB / delta escapes (skipped pixels read as palette index 0);
    top-down RLE is invalid per the format."""
    import numpy as np

    from rlis2osm_spark.functions.codecs import decode_bmp

    rng = np.random.default_rng(6)
    pal8 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    table8 = b"".join(bytes([p[2], p[1], p[0], 0]) for p in pal8)
    tgt = np.zeros((3, 7), np.uint8)  # stored (bottom-up) order
    s = bytearray()
    tgt[0, :4] = 5
    tgt[0, 4:7] = [9, 8, 7]
    s += bytes([4, 5]) + bytes([0, 3, 9, 8, 7, 0]) + bytes([0, 0])
    tgt[1, 2:7] = 11
    s += bytes([0, 2, 2, 0]) + bytes([5, 11]) + bytes([0, 0])
    tgt[2, :] = 42
    s += bytes([7, 42]) + bytes([0, 1])
    w, h, nch, px = decode_bmp(_bmp_file(7, 3, 8, bytes(s), table8, comp=1))
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(3, 7, 3),
                          pal8[tgt[::-1]])

    with pytest.raises(ValueError, match="top-down"):
        decode_bmp(_bmp_file(7, -3, 8, bytes(s), table8, comp=1))
    with pytest.raises(ValueError, match="end-of-bitmap"):
        decode_bmp(_bmp_file(7, 3, 8, bytes(s[:-2]), table8, comp=1))


def test_wav_pcm24_roundtrip():
    """24-bit packed PCM roundtrips exactly."""
    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    s = np.random.default_rng(3).integers(-(1 << 23), 1 << 23, 999).tolist()
    assert C.decode_wav(C.encode_wav_pcm24(s)) == (8000, s)


def test_bmp_bitfields():
    """BI_BITFIELDS at 32 bits: arbitrary contiguous channel masks
    (BGRX-8888 and a 10-bit channel exercised), n-bit channels scaled to
    8 bits by 255*x/max; zero masks rejected."""
    import struct as _st

    import numpy as np

    from rlis2osm_spark.functions.codecs import decode_bmp

    rng = np.random.default_rng(2)
    pix = rng.integers(0, 2 ** 32, (1, 2), dtype=np.uint32)
    rows32 = b"".join(_st.pack("<I", int(pix[0, c])) for c in range(2))
    masks32 = _st.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    w, h, nch, px = decode_bmp(_bmp_file(2, 1, 32, rows32, masks32, comp=3))
    exp = np.stack([(pix >> 16) & 255, (pix >> 8) & 255,
                    pix & 255], axis=-1).astype(np.uint8)
    assert np.frombuffer(px, np.uint8).reshape(1, 2, 3).tolist() \
        == exp.tolist()

    masks10 = _st.pack("<III", 0x3FF00000, 0x000FFC00, 0x000003FF)
    w, h, nch, px = decode_bmp(_bmp_file(2, 1, 32, rows32, masks10, comp=3))
    exp = np.stack([((pix >> 20) & 1023) * 255 // 1023,
                    ((pix >> 10) & 1023) * 255 // 1023,
                    (pix & 1023) * 255 // 1023], axis=-1).astype(np.uint8)
    assert np.frombuffer(px, np.uint8).reshape(1, 2, 3).tolist() \
        == exp.tolist()

    with pytest.raises(ValueError, match="mask"):
        decode_bmp(_bmp_file(2, 1, 32, rows32,
                             _st.pack("<III", 0, 0xFF00, 0xFF), comp=3))


def test_jpeg_extended_sequential_sof1():
    """SOF1 extended-sequential huffman (r6) at 8-bit precision shares
    the baseline scan structure: relabeling a baseline stream's SOF0 as
    SOF1 decodes identically — exact on even constant blocks, equal on a
    lossy natural image, and with restart intervals in play."""
    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    def as_sof1(blob):
        at = blob.index(b"\xff\xc0")
        return blob[:at] + b"\xff\xc1" + blob[at + 2:]

    rng = np.random.default_rng(7)
    blocks = rng.integers(0, 128, (3, 4), dtype=np.uint8) * 2
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    h, w = img.shape
    for restart_every in (0, 1, 5):
        blob = as_sof1(C.encode_jpeg_gray(w, h, img.tobytes(),
                                          restart_every=restart_every))
        assert C.decode_jpeg(blob) == (w, h, 1, img.tobytes())
    nat = rng.integers(0, 256, (24, 17), dtype=np.uint8)
    b0 = C.encode_jpeg_gray(17, 24, nat.tobytes(), restart_every=2)
    assert C.decode_jpeg(as_sof1(b0)) == C.decode_jpeg(b0)
    # truncation fails loudly, not with fabricated tail blocks
    with pytest.raises(ValueError):
        C.decode_jpeg(as_sof1(b0)[:len(b0) - 10])


def test_jpeg_16bit_quant_tables():
    """Pq=1 DQT segments (r6): 16-bit big-endian quantizer entries. A
    baseline stream whose DQT is rewritten at Pq=1 with the same values
    decodes identically; an invalid Pq nibble is malformed input."""
    import struct as _st

    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    rng = np.random.default_rng(53)
    nat = rng.integers(0, 256, (17, 19), dtype=np.uint8)
    blob = C.encode_jpeg_gray(19, 17, nat.tobytes())
    dqt_at = blob.index(b"\xff\xdb")
    assert blob[dqt_at + 4] == 0x00
    vals = blob[dqt_at + 5:dqt_at + 69]
    body16 = bytes([0x10]) + b"".join(_st.pack(">H", v) for v in vals)
    blob16 = (blob[:dqt_at] + b"\xff\xdb"
              + _st.pack(">H", len(body16) + 2) + body16
              + blob[dqt_at + 69:])
    assert C.decode_jpeg(blob16) == C.decode_jpeg(blob)

    bad = bytearray(blob)
    bad[dqt_at + 4] = 0x20
    with pytest.raises(ValueError):
        C.decode_jpeg(bytes(bad))


def test_jpeg_subsampled_luma():
    """Subsampled-LUMA layouts (r6): nothing in T.81 requires component
    1 to carry the max sampling factors. Hand-built 3-component stream
    with Y at 1x1 and Cb/Cr at 2x2 (so luma is quarter resolution):
    the decoder upsamples the luma plane like any other component.
    Constant blocks keep the whole chain analytic."""
    import struct as _st

    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    w = h = 16  # one MCU at hmax=vmax=2
    # all three components quantize with table 0 (q00=16), so even
    # offsets from the level shift are exact for luma AND chroma
    y0, cb0, cr0 = 120, 128 + 16, 128 - 32
    dc_tab = C._huff_codes(C._JPEG_DC_BITS, C._JPEG_DC_VALS)
    ac_tab = C._huff_codes(C._JPEG_AC_BITS, C._JPEG_AC_VALS)
    q = np.array(C._JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    zz = C._JPEG_ZIGZAG

    wtr = C._BitWriter()
    prev = {1: 0, 2: 0, 3: 0}
    # MCU order: Y (1 block at 1x1), Cb (4 blocks at 2x2), Cr (4 blocks)
    for cid, val, nblk in ((1, y0, 1), (2, cb0, 4), (3, cr0, 4)):
        for _ in range(nblk):
            blk = np.full((8, 8), float(val)) - 128.0
            prev[cid] = C._encode_block(wtr, blk, q, dc_tab, ac_tab,
                                        prev[cid])
    wtr.flush()

    def seg(marker, body):
        return (bytes([0xFF, marker])
                + _st.pack(">H", len(body) + 2) + body)

    blob = (b"\xff\xd8"
            + seg(0xDB, bytes([0x00]) + bytes(
                C._JPEG_QTABLE[zz[i]] for i in range(64)))
            + seg(0xC0, _st.pack(">BHHB", 8, h, w, 3)
                  + bytes([1, 0x11, 0, 2, 0x22, 0, 3, 0x22, 0]))
            + seg(0xC4, bytes([0x00]) + bytes(C._JPEG_DC_BITS)
                  + bytes(C._JPEG_DC_VALS))
            + seg(0xC4, bytes([0x10]) + bytes(C._JPEG_AC_BITS)
                  + bytes(C._JPEG_AC_VALS))
            + seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
            + bytes(wtr.out) + b"\xff\xd9")

    # the quarter-res constant luma upsamples like the chroma: the
    # output is the JFIF conversion of the constant planes
    cw_, ch_, nch, px = C.decode_jpeg(blob)
    assert (cw_, ch_, nch) == (w, h, 3)
    r = min(255, max(0, int(np.floor(y0 + 1.402 * (cr0 - 128) + 0.5))))
    g = min(255, max(0, int(np.floor(y0 - 0.344136 * (cb0 - 128)
                                     - 0.714136 * (cr0 - 128) + 0.5))))
    b = min(255, max(0, int(np.floor(y0 + 1.772 * (cb0 - 128) + 0.5))))
    assert px == bytes([r, g, b]) * (w * h)


def test_jpeg_multiscan_noninterleaved():
    """Non-interleaved multi-scan sequential JPEG (T.81 B.2.3): three
    single-component scans — each component's blocks in raster order
    over its OWN grid (not the MCU-padded grid), DC predictor fresh per
    scan — must decode bit-for-bit like the interleaved scan of the same
    planes, at both subsamplings and at odd dimensions. The three scans
    are hand-built with the encoder's block coder."""
    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    dc_tab = C._huff_codes(C._JPEG_DC_BITS, C._JPEG_DC_VALS)
    ac_tab = C._huff_codes(C._JPEG_AC_BITS, C._JPEG_AC_VALS)
    rng = np.random.default_rng(59)
    for w, h, f in [(24, 16, 2), (17, 13, 2), (16, 16, 1), (19, 11, 1)]:
        cw, ch = -(-w // f), -(-h // f)
        planes = [rng.integers(0, 256, (h, w), dtype=np.uint8),
                  rng.integers(0, 256, (ch, cw), dtype=np.uint8),
                  rng.integers(0, 256, (ch, cw), dtype=np.uint8)]
        b_int = C.encode_jpeg_color(
            w, h, planes[0].tobytes(), "4:4:4" if f == 1 else "4:2:0",
            planes[1].tobytes(), planes[2].tobytes())
        b_non = bytearray(b_int[:b_int.index(b"\xff\xda")])  # headers
        for cid, plane in enumerate(planes, 1):
            ph, pw = plane.shape
            nby, nbx = -(-ph // 8), -(-pw // 8)
            padded = C._pad_plane(plane.tobytes(), pw, ph, nby * 8, nbx * 8)
            q = np.array(C._JPEG_QTABLE if cid == 1 else C._JPEG_QTABLE_CHROMA,
                         dtype=np.float64).reshape(8, 8)
            wtr = C._BitWriter()
            prev = 0
            for by in range(nby):
                for bx in range(nbx):
                    prev = C._encode_block(
                        wtr, padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                        - 128.0, q, dc_tab, ac_tab, prev)
            wtr.flush()
            tables = 0x00 if cid == 1 else 0x11
            b_non += C._seg(0xDA, bytes([1, cid, tables, 0, 63, 0]))
            b_non += wtr.out
        b_non = bytes(b_non + b"\xff\xd9")
        assert C.decode_jpeg(b_non) == C.decode_jpeg(b_int), (w, h, f)

    # truncation inside a later scan still fails loudly
    with pytest.raises(ValueError):
        C.decode_jpeg(b_non[:len(b_non) - 4])


def test_encode_bmp_all_modes():
    """encode_bmp: every mode — 24-bit BGR, 8-bit palettized,
    BI_RLE8 runs, BI_BITFIELDS 32-bit — roundtrips through decode_bmp
    to B=G=R replication of the gray input (the analytic-oracle
    contract: decoded RGB sum = 3x the gray sum)."""
    import numpy as np

    from rlis2osm_spark.functions import codecs as C

    rng = np.random.default_rng(79)
    for w, h in [(7, 5), (12, 9), (4, 4)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        img[::2] = img[::2, :1]  # constant rows: RLE8 runs longer than 1
        exp = np.repeat(img[:, :, None], 3, axis=2).tobytes()
        for mode in ("bgr24", "pal8", "rle8", "bf32"):
            got = C.decode_bmp(C.encode_bmp(w, h, img.tobytes(),
                                            mode=mode))
            assert got == (w, h, 3, exp), (w, h, mode)
    with pytest.raises(ValueError, match="mode"):
        C.encode_bmp(4, 4, bytes(16), mode="png")


# ---------------------------------------------------------------------------
# The modes the codecs do not decode, and the guard that m1's own payloads
# reach every line they keep
# ---------------------------------------------------------------------------

def _png_1x1(depth, ctype, interlace, raw, *chunks):
    """A 1x1 PNG with the given IHDR fields, extra chunks and scanline."""
    ihdr = struct.pack(">IIBBBBB", 1, 1, depth, ctype, 0, 0, interlace)
    return (PNG_SIG + _chunk(b"IHDR", ihdr) + b"".join(chunks)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def _gif_with_gce(flags):
    """A one-frame animated GIF whose Graphic Control Extension carries
    ``flags`` (bit 0 transparency, bits 2-4 disposal)."""
    from rlis2osm_spark.functions.codecs import encode_gif_anim

    g = encode_gif_anim(2, 2, [dict(width=2, height=2, pixels=bytes(4))])
    at = g.index(b"\x21\xf9\x04") + 3
    return g[:at] + bytes([flags]) + g[at + 1:]


def _gif_local_palette():
    """A 2x2 GIF whose image carries a 2-entry local color table."""
    from rlis2osm_spark.functions.codecs import encode_gif

    g = encode_gif(2, 2, bytes(4))
    at = 13 + 768 + 9  # the image descriptor's flags byte
    return g[:at] + b"\x80" + bytes((10, 20, 30, 40, 50, 60)) + g[at + 1:]


def _jpeg_interleaved_progressive_dc():
    """An 8x8 3-component progressive JPEG whose one scan is a DC first
    pass interleaving all three components (each DC difference 0)."""
    from rlis2osm_spark.functions.codecs import (
        _JPEG_DC_BITS, _JPEG_DC_VALS, _JPEG_QTABLE, _JPEG_ZIGZAG)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    return (b"\xff\xd8"
            + seg(0xDB, bytes([0]) + bytes(_JPEG_QTABLE[z]
                                           for z in _JPEG_ZIGZAG))
            + seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 3)
                  + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]))
            + seg(0xC4, bytes([0]) + bytes(_JPEG_DC_BITS)
                  + bytes(_JPEG_DC_VALS))
            + seg(0xDA, bytes([3, 1, 0, 2, 0, 3, 0, 0, 0, 0]))
            + b"\x03"  # three 2-bit size-0 codes, then 1-padding
            + b"\xff\xd9")


def _bmp_removed(bits, comp, rows, table=b""):
    return _bmp_file(2, 1, bits, rows, table, comp=comp,
                     clr_used=len(table) // 4)


def _bmp_embedded(blob, comp):
    """A BI_JPEG (4) / BI_PNG (5) BMP wrapping a whole image stream."""
    info = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 0, comp, len(blob),
                       0, 0, 0, 0)
    return (b"BM" + struct.pack("<IHHI", 54 + len(blob), 0, 0, 54) + info
            + blob)


def _wav_removed(afmt, channels, bits):
    ba = channels * bits // 8
    fmt = struct.pack("<HHIIHH", afmt, channels, 8000, 8000 * ba, ba, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 4 * ba) + bytes(4 * ba))
    return b"RIFF" + struct.pack("<I", len(body)) + body


_GRAY16 = b"".join(bytes([k * 16] * 3) + b"\x00" for k in range(16))

REMOVED_MODES = {
    "png_adam7": ("png", lambda: _png_1x1(8, 0, 1, b"\x00\x07")),
    "png_4bit_gray": ("png", lambda: _png_1x1(4, 0, 0, b"\x00\x70")),
    "png_palette": ("png", lambda: _png_1x1(
        8, 3, 0, b"\x00\x00", _chunk(b"PLTE", b"\x10\x20\x30"))),
    "png_rgb": ("png", lambda: _png_1x1(8, 2, 0, b"\x00\x01\x02\x03")),
    "png_gray_alpha": ("png", lambda: _png_1x1(8, 4, 0, b"\x00\x01\x02")),
    "png_rgba": ("png", lambda: _png_1x1(8, 6, 0, b"\x00\x01\x02\x03\x04")),
    "gif_transparency": ("gif", lambda: _gif_with_gce(0x05)),
    "gif_restore_background": ("gif", lambda: _gif_with_gce(0x08)),
    "gif_restore_previous": ("gif", lambda: _gif_with_gce(0x0C)),
    "gif_local_palette": ("gif", _gif_local_palette),
    "jpeg_interleaved_progressive_dc": (
        "jpeg", _jpeg_interleaved_progressive_dc),
    "bmp_1bit": ("bmp", lambda: _bmp_removed(
        1, 0, b"\x00" * 4, _GRAY16[:8])),
    "bmp_4bit": ("bmp", lambda: _bmp_removed(4, 0, b"\x00" * 4, _GRAY16)),
    "bmp_rle4": ("bmp", lambda: _bmp_removed(
        4, 2, b"\x02\x00\x00\x01", _GRAY16)),
    "bmp_bitfields16": ("bmp", lambda: _bmp_removed(
        16, 3, b"\x00" * 4, struct.pack("<III", 0xF800, 0x07E0, 0x001F))),
    "bmp_embedded_jpeg": ("bmp", lambda: _bmp_embedded(
        encode_jpeg_gray(8, 8, bytes(64)), 4)),
    "bmp_embedded_png": ("bmp", lambda: _bmp_embedded(
        encode_png(1, 1, b"\x00"), 5)),
    "wav_float32": ("wav", lambda: _wav_removed(3, 1, 32)),
    "wav_pcm8": ("wav", lambda: _wav_removed(1, 1, 8)),
    "wav_stereo": ("wav", lambda: _wav_removed(1, 2, 16)),
}


@pytest.mark.parametrize("mode", sorted(REMOVED_MODES))
def test_removed_modes_raise(mode):
    """Each mode m1 never writes is behind the NotImplementedError seam;
    every input here is a valid file of its format."""
    from rlis2osm_spark.functions import codecs as C

    decode = {"png": C.decode_png_ex, "gif": C.decode_gif_frames,
              "jpeg": C.decode_jpeg, "bmp": C.decode_bmp,
              "wav": C.decode_wav}
    fmt, build = REMOVED_MODES[mode]
    with pytest.raises(NotImplementedError):
        decode[fmt](build())


# Functions in codecs.py whose lines m1's payloads may leave unreached, by
# reason. The list may only shrink: a function m1 reaches fully must go.
REACH_EXEMPT = {
    # PNG filters 3 (Average) and 4 (Paeth): m1 writes filters 0-2, other
    # encoders all five (test_png_decode_average_and_paeth_filters)
    "_png_unfilter",
    # compressed LZW (code-width growth, the KwKwK case) and truncated
    # streams: m1's encoder is literal-coded, other GIF encoders compress
    # (test_gif_decodes_real_compressed_stream)
    "_lzw_decode_gif",
    # RLE8 runs, absolute mode and deltas: m1's BMP rows never repeat a
    # pixel (test_encode_bmp_all_modes, test_bmp_rle_decode)
    "encode_bmp",
    "_decode_bmp_rle8",
    # AC coefficients: m1's JPEGs are DCT-exact constant blocks whose AC
    # coefficients are all zero (test_jpeg_lossy_bound_on_smooth_image,
    # tests/test_properties.py::test_progressive_equals_baseline_decode)
    "_encode_block",
    "encode_jpeg_progressive",
    "_ac_first_pass",
    "_ac_refine_pass",
    # spec tolerances m1's encoders never need: 16-bit DQT entries, and
    # fill bytes or standalone markers between segments
    # (test_jpeg_16bit_quant_tables, test_jpeg_tolerates_fill_bytes)
    "_parse_dqt_body",
    "_decode_jpeg_planes",
}


def _codec_statements(path):
    """(top-level function, first line, last line) of every statement in
    a function body of ``path`` that compiles to code, except ``raise``
    and docstrings; a compound statement spans its header only."""
    import ast

    out = []

    def visit(owner, body):
        for i, st in enumerate(body):
            kids = [c for f in ("body", "orelse", "finalbody")
                    for c in getattr(st, f, None) or []]
            handlers = getattr(st, "handlers", None) or []
            firsts = [c.lineno for c in kids + handlers]
            doc = (i == 0 and isinstance(st, ast.Expr)
                   and isinstance(st.value, ast.Constant)
                   and isinstance(st.value.value, str))
            if not (doc or isinstance(st, (ast.Raise, ast.Global,
                                           ast.Nonlocal))):
                end = min(firsts) - 1 if firsts else st.end_lineno
                out.append((owner, st.lineno, max(st.lineno, end)))
            visit(owner, kids + [c for h in handlers for c in h.body])

    with open(path) as fh:
        tree = ast.parse(fh.read())
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            visit(top.name, top.body)
        elif isinstance(top, ast.ClassDef):
            for m in top.body:
                if isinstance(m, ast.FunctionDef):
                    visit(f"{top.name}.{m.name}", m.body)
    return out


def test_m1_payloads_reach_every_codec_line():
    """Run m1's six encoders over doc ids 0-63 and decode each payload
    through multimodal.py's own per-blob dispatch, under stdlib trace:
    every statement of codecs.py must run, unless it raises, is a
    docstring, or sits in a REACH_EXEMPT function. A mode m1 never writes
    belongs behind the NotImplementedError seam, not in the codecs."""
    import linecache
    import trace

    from rlis2osm_spark.functions import codecs
    from rlis2osm_spark.operators import multimodal
    from rlis2osm_spark.queries import content2

    def m1_payloads():
        for d in range(64):
            multimodal._image_rows(content2._png_blob(d), False)
            multimodal._audio_rows(content2._wav_blob(d))
            if d % 4 == 0:  # m1's 1-in-4 doc sample (_m1_payload_frames)
                for blob in (content2._gif_blob, content2._bmp_blob,
                             content2._jpeg_blob):
                    multimodal._image_rows(blob(d), False)
                multimodal._video_rows(content2._avi_blob(d))

    codecs._dct_matrix.cache_clear()  # its body runs once per process
    tracer = trace.Trace(count=1, trace=0)
    tracer.runfunc(m1_payloads)
    path = codecs.__file__
    hit = {line for f, line in tracer.results().counts if f == path}
    unreached = [(owner, first) for owner, first, last
                 in _codec_statements(path)
                 if hit.isdisjoint(range(first, last + 1))]
    missed = [f"codecs.py:{line} {owner}: "
              f"{linecache.getline(path, line).strip()}"
              for owner, line in unreached if owner not in REACH_EXEMPT]
    assert not missed, "lines m1's payloads never run:\n" + "\n".join(missed)
    stale = REACH_EXEMPT - {owner for owner, _ in unreached}
    assert not stale, f"fully reached, drop from REACH_EXEMPT: {stale}"
