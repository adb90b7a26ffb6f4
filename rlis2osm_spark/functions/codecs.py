"""Media codecs with no external libraries, cut to the modes the synthetic
media query (m1, ``queries/content2.py``) writes and decodes:

- PNG: stdlib ``zlib`` + ``struct`` over the public PNG spec, 8-bit
  grayscale, not interlaced; decode undoes all five scanline filters,
  encode writes filters 0-2;
- GIF: pure-Python LZW over the public GIF87a/GIF89a spec, 8-bit
  palettized (variable-width codes up to 12 bits), interlaced or not;
  animations composite each frame rect over the last (disposal
  none/keep);
- BMP: 24-bit BGR, 8-bit palettized, BI_RLE8 and 32-bit BGRX, plain or
  BI_BITFIELDS;
- JPEG: the public ITU T.81 spec at 8-bit precision, huffman coded.
  Sequential frames (SOF0; SOF1 shares its scan loop) in grayscale or
  3-component color at any sampling layout, interleaved or one scan per
  component, with restart intervals; progressive frames (SOF2) whose
  scans each carry one component (spectral selection, successive
  approximation, EOBRUN). Color output is RGB by nearest chroma
  upsampling;
- AVI: RIFF container walk + idx1 index; MJPEG and uncompressed DIB
  frames;
- WAV: ``struct`` over the public RIFF/WAVE spec, mono integer PCM at
  16 or 24 bits.

These turn the multimodal operators' real-decode seam into working
decoders for the formats m1 emits. Everything else raises
``NotImplementedError`` naming the library that plugs in there (see
COVERAGE.md "Codec capability matrix"): PNG at other depths or color
types and Adam7; GIF transparency, local color tables and the restore
disposals; BMP at 1, 4 or 16 bits, BI_RLE4 and embedded JPEG/PNG; JPEG
lossless, arithmetic, differential/hierarchical, 12-bit, CMYK/YCCK and
interleaved progressive DC scans; AVI codecs other than MJPEG and DIB;
WAV other than mono PCM16/PCM24.
"""

from __future__ import annotations

import functools
import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def encode_png(width: int, height: int, pixels: bytes,
               filter_type: int = 0) -> bytes:
    """8-bit grayscale PNG. ``pixels`` is row-major ``width*height`` bytes;
    ``filter_type`` in {0 (None), 1 (Sub), 2 (Up)} is applied to every
    scanline (the decoder handles all five standard filters)."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    if filter_type not in (0, 1, 2):
        raise ValueError("encoder supports filters 0/1/2")
    # vectorized filtering: uint8 wraparound IS the mod-256 the spec
    # wants, so Sub/Up are one numpy subtraction per image
    import numpy as np

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    raw = np.empty((height, width + 1), dtype=np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = img
    if filter_type == 1:  # Sub: delta vs left neighbor
        raw[:, 2:] -= img[:, :-1]
    elif filter_type == 2:  # Up: delta vs same column of prior row
        raw[1:, 1:] -= img[:-1, :]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
            + _chunk(b"IEND", b""))


def _png_unfilter(raw: bytes, height: int, width: int):
    """Reverse the standard scanline filters over ``height`` rows of
    ``1 + width`` bytes (one byte per pixel, so the left neighbor is one
    byte back); returns a (height, width) uint8 array."""
    import numpy as np

    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("IDAT size mismatch")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    out = np.empty((height, width), dtype=np.uint8)
    prior = np.zeros(width, dtype=np.uint8)
    for r in range(height):
        ft = int(scan[r, 0])
        row = scan[r, 1:]
        if ft == 0:
            cur = row.copy()
        elif ft == 1:  # Sub: prefix sum (uint8 wraps mod 256)
            cur = np.cumsum(row, dtype=np.uint8)
        elif ft == 2:  # Up: one vector add
            cur = row + prior
        elif ft == 3:  # Average (sequential left-dependency: scalar loop)
            cur = np.empty(width, dtype=np.uint8)
            for i in range(width):
                left = int(cur[i - 1]) if i else 0
                cur[i] = (int(row[i]) + (left + int(prior[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth (sequential left-dependency: scalar loop)
            cur = np.empty(width, dtype=np.uint8)
            for i in range(width):
                a = int(cur[i - 1]) if i else 0  # left
                b = int(prior[i])  # up
                c = int(prior[i - 1]) if i else 0  # up-left
                # distances of p = a + b - c to a, b and c
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                cur[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[r] = cur
        prior = cur
    return out


def decode_png_ex(data: bytes) -> tuple[int, int, int, bytes]:
    """8-bit grayscale PNG -> (width, height, 1, pixels), any standard
    scanline filter. Other depths and color types and Adam7 interlacing
    raise NotImplementedError (PIL's seam); ancillary chunks are
    skipped."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(PNG_SIG)
    width = height = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if (depth, ctype, body[12]) != (8, 0, 0):
                raise NotImplementedError(
                    f"{depth}-bit PNG, color type {ctype}, interlace "
                    f"{body[12]}: only 8-bit grayscale without interlace "
                    "decodes natively (PIL plugs in here)")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"bad or missing IDAT stream: {e}") from e
    return width, height, 1, _png_unfilter(raw, height, width).tobytes()


_GIF_GRAY_PALETTE = b"".join(bytes((i, i, i)) for i in range(256))

# GIF interlace passes: (first row, row step) in file order
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(height: int) -> list[int]:
    return [r for start, step in _GIF_PASSES
            for r in range(start, height, step)]


def _gif_header(width: int, height: int) -> bytes:
    """GIF89a logical screen with the 256-entry gray global palette, so
    palette index == gray value."""
    return (b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
            + _GIF_GRAY_PALETTE)


def _gif_image(left: int, top: int, width: int, height: int,
               pixels: bytes, interlace: bool) -> bytes:
    """One image block: descriptor plus LZW data, literal-coded with a
    CLEAR every 253 pixels so every code stays 9 bits wide — valid
    output any decoder accepts (the decoder side handles full
    variable-width compression)."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    out = bytearray(b"\x2C" + struct.pack("<HHHHB", left, top, width, height,
                                          0x40 if interlace else 0))
    if interlace:
        pixels = b"".join(pixels[r * width:(r + 1) * width]
                          for r in _gif_interlace_order(height))
    codes: list[int] = []
    for i in range(0, len(pixels), 253):
        codes.append(256)  # CLEAR
        codes.extend(pixels[i:i + 253])
    codes.append(257)  # EOI
    packed = bytearray()  # LSB-first bit packing per the GIF spec
    bitbuf = bitlen = 0
    for code in codes:
        bitbuf |= code << bitlen
        bitlen += 9
        while bitlen >= 8:
            packed.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitlen -= 8
    if bitlen:
        packed.append(bitbuf & 0xFF)
    out.append(0x08)  # LZW minimum code size
    for i in range(0, len(packed), 255):
        chunk = packed[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    return bytes(out)


def encode_gif(width: int, height: int, pixels: bytes,
               interlace: bool = False) -> bytes:
    """8-bit grayscale GIF89a of one image (gray global palette)."""
    return (_gif_header(width, height)
            + _gif_image(0, 0, width, height, pixels, interlace) + b"\x3B")


def encode_gif_anim(screen_w: int, screen_h: int, frames: list) -> bytes:
    """Animated GIF89a (gray global palette). ``frames`` is a list of
    dicts: ``left top width height pixels`` (gray bytes = palette
    indices) plus optional ``interlace``. Each frame gets a Graphic
    Control Extension with disposal "keep" and no transparency, so every
    frame draws over the canvas the frames before it left."""
    if not frames:
        raise ValueError("need at least one frame")
    out = bytearray(_gif_header(screen_w, screen_h))
    for f in frames:
        left, top = f.get("left", 0), f.get("top", 0)
        if left + f["width"] > screen_w or top + f["height"] > screen_h:
            raise ValueError("frame rect outside the logical screen")
        out += b"\x21\xF9\x04\x04\x00\x00\x00\x00"
        out += _gif_image(left, top, f["width"], f["height"], f["pixels"],
                          f.get("interlace", False))
    return bytes(out + b"\x3B")


def decode_gif_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """GIF -> (screen_w, screen_h, [full-canvas grayscale frames]). Each
    image rect draws onto the logical screen over what the frames before
    it left (disposal none/keep). Any LZW stream a conformant encoder
    produces decodes (variable-width codes to 12 bits, interlace
    deinterleaved); global palette entries map to gray via the exact
    integer luma (299*r + 587*g + 114*b) // 1000, the identity for gray
    palettes. Local color tables, transparency and the restore disposals
    raise NotImplementedError (PIL's seam); malformed or truncated input
    raises ValueError, never a bare IndexError."""
    try:
        return _decode_gif_frames_impl(data)
    except (IndexError, struct.error) as e:
        raise ValueError(f"malformed or truncated GIF stream: {e}") from e


def _decode_gif_frames_impl(data: bytes):
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    grays = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        pal = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
        p = pal.reshape(-1, 3).astype(np.int64)
        grays = ((299 * p[:, 0] + 587 * p[:, 1] + 114 * p[:, 2]) // 1000
                 ).astype(np.uint8)
        pos += 3 * n
    bg_gray = grays[bg] if grays is not None and bg < len(grays) else 0
    canvas = np.full((sh, sw), bg_gray, dtype=np.uint8)
    frames: list[bytes] = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            label = data[pos]
            pos += 1
            if label == 0xF9 and data[pos] >= 4:  # Graphic Control Ext
                gflags = data[pos + 1]
                if gflags & 1 or (gflags >> 2) & 7 > 1:
                    raise NotImplementedError(
                        "GIF transparency and restore disposals need an "
                        "image codec library (PIL plugs in here); frames "
                        "that keep the canvas decode natively")
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"bad GIF block 0x{block:02x}")
        left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos:pos + 9])
        pos += 9
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame rect outside the logical screen")
        if iflags & 0x80:
            raise NotImplementedError(
                "GIF local color tables need an image codec library (PIL "
                "plugs in here); the global table decodes natively")
        if grays is None:
            raise ValueError("GIF image has no color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos]:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        raw = _lzw_decode_gif(min_code, bytes(lzw))[:w * h]
        if len(raw) < w * h:
            raise ValueError("GIF pixel data truncated")
        idx = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
        if iflags & 0x40:  # interlaced: file row k is image row order[k]
            idx = idx[np.argsort(_gif_interlace_order(h))]
        if int(idx.max(initial=0)) >= len(grays):
            raise ValueError("GIF palette index out of range")
        canvas[top:top + h, left:left + w] = grays[idx]
        frames.append(canvas.tobytes())
    if not frames:
        raise ValueError("GIF contains no image data")
    return sw, sh, frames


def _lzw_decode_gif(min_code: int, data: bytes) -> bytes:
    """GIF-variant LZW: variable code width from min_code+1 up to 12 bits,
    CLEAR resets the table, EOI ends the stream."""
    clear = 1 << min_code
    eoi = clear + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = eoi + 1
    width = min_code + 1
    out = bytearray()
    prev = None
    bitbuf = bitlen = pos = 0
    while True:
        while bitlen < width:
            if pos >= len(data):
                return bytes(out)  # truncated stream: return what decoded
            bitbuf |= data[pos] << bitlen
            pos += 1
            bitlen += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitlen -= width
        if code == clear:
            table = dict(base)
            next_code = eoi + 1
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code in table:
            entry = table[code]
        elif prev is not None and code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


# ---------------------------------------------------------------------------
# JPEG: pure Python + numpy over the public spec (ITU T.81). Sequential
# (gray + interleaved color) and progressive (SOF2, one component per
# scan) huffman modes, 8-bit precision; DCT tables are the spec's Annex K
# typical tables (progressive AC scans carry their own DHT for the EOBn
# symbols). Every other frame type is behind the NotImplementedError seam.
# ---------------------------------------------------------------------------

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1 luminance quantization table (row-major)
_JPEG_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Annex K.3 typical luminance DC table
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))

# Annex K.5 typical luminance AC table
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _parse_dqt_body(body: bytes, out: dict) -> None:
    """Parse one DQT segment body into ``out`` (table id -> 64 zigzag
    values). Pq=0 -> 8-bit entries; Pq=1 (r6) -> 16-bit big-endian
    entries (some encoders emit them for 8-bit streams too). Short
    bodies raise struct.error/ValueError —
    wrapped to the malformed-input ValueError by the public decoders."""
    i = 0
    while i < len(body):
        pq, tq = body[i] >> 4, body[i] & 0x0F
        if pq == 0:
            if i + 65 > len(body):
                raise ValueError("truncated DQT segment")
            out[tq] = list(body[i + 1:i + 65])
            i += 65
        elif pq == 1:
            out[tq] = list(struct.unpack(">64H", body[i + 1:i + 129]))
            i += 129
        else:
            raise ValueError(f"invalid DQT precision Pq={pq}")


def _parse_dht_body(body: bytes, out: dict) -> None:
    """Parse one DHT segment body into ``out`` ((class, id) -> decode
    table from :func:`_huff_decode_tree`)."""
    i = 0
    while i < len(body):
        tc, th = body[i] >> 4, body[i] & 0x0F
        bits = list(body[i + 1:i + 17])
        n = sum(bits)
        vals = list(body[i + 17:i + 17 + n])
        out[(tc, th)] = _huff_decode_tree(bits, vals)
        i += 17 + n


def _huff_codes(bits, vals):
    """Canonical huffman: value -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


@functools.lru_cache(maxsize=None)
def _dct_matrix():
    """The orthonormal 8-point DCT-II matrix, built once and shared
    read-only by every encoder and decoder call."""
    import numpy as np

    n = 8
    c = np.zeros((n, n))
    for k in range(n):
        for i in range(n):
            c[k, i] = ((1 / np.sqrt(n)) if k == 0 else np.sqrt(2 / n)
                       ) * np.cos((2 * i + 1) * k * np.pi / (2 * n))
    c.flags.writeable = False
    return c


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size, appended bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dqt(tq: int, table: list[int]) -> bytes:
    return _seg(0xDB, bytes([tq]) + bytes(table[z] for z in _JPEG_ZIGZAG))


def _dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))


def _pad_plane(pixels: bytes, width: int, height: int, ph: int, pw: int):
    """Row-major ``width*height`` bytes -> (ph, pw) float64 plane,
    edge-replicated past the image (the encoders' block padding)."""
    import numpy as np

    if len(pixels) != width * height:
        raise ValueError(f"plane must be {width}*{height} bytes")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:, width:] = padded[:, width - 1:width]
    return padded


def _zigzag_quant(block, qmat) -> list[int]:
    """FDCT + quantize one level-shifted 8x8 block -> its 64 coefficients
    in zigzag order."""
    import numpy as np

    C = _dct_matrix()
    flat = np.round((C @ block @ C.T) / qmat).astype(np.int64).reshape(-1)
    return [int(flat[z]) for z in _JPEG_ZIGZAG]


def encode_jpeg_gray(width: int, height: int, pixels: bytes,
                     restart_every: int = 0) -> bytes:
    """Baseline sequential grayscale JPEG (T.81; Annex K typical quant +
    huffman tables). Lossy in general; EXACT for images whose 8x8 blocks
    are constant with even values ((v-128)*8 divisible by q00=16 survives
    quantize->dequantize bit-for-bit) — the analytic-oracle path.
    ``restart_every`` > 0 emits a DRI segment and RSTn markers every that
    many MCUs (resets the DC predictor, byte-aligned) — the parallel-decode
    affordance real encoders use."""
    import numpy as np

    bh, bw = (height + 7) // 8, (width + 7) // 8
    padded = _pad_plane(pixels, width, height, bh * 8, bw * 8)
    q = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    dc_tab = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    w = _BitWriter()
    prev_dc = 0
    mcu = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_every and mcu and mcu % restart_every == 0:
                w.flush()
                w.out += bytes([0xFF, 0xD0 + (mcu // restart_every - 1) % 8])
                prev_dc = 0
            mcu += 1
            prev_dc = _encode_block(
                w, padded[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] - 128.0,
                q, dc_tab, ac_tab, prev_dc)
    w.flush()
    dri = (_seg(0xDD, struct.pack(">H", restart_every))
           if restart_every else b"")
    return (b"\xff\xd8" + _dqt(0, _JPEG_QTABLE)
            + _seg(0xC0, struct.pack(">BHHB", 8, height, width, 1)
                   + bytes([1, 0x11, 0]))
            + _dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
            + _dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
            + dri + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + bytes(w.out)
            + b"\xff\xd9")


def encode_jpeg_progressive(width: int, height: int, pixels: bytes) -> bytes:
    """Progressive (SOF2) grayscale JPEG — T.81 Annex G huffman coding.

    The scan script exercises every progressive decode mode: DC first at
    Al=1 then a DC refinement bit; each AC band (1-5, 6-63) encoded by
    spectral selection at Al=2 followed by TWO successive-approximation
    refinement scans (2->1, 1->0) carrying real correction bits and EOBRUN
    joins. Quantized coefficients are identical to
    :func:`encode_jpeg_gray`'s, so a progressive stream must decode to
    EXACTLY the same pixels as the baseline encoding of the same image —
    the differential oracle the tests pin."""
    import numpy as np

    nbx, nby = (width + 7) // 8, (height + 7) // 8
    padded = _pad_plane(pixels, width, height, nby * 8, nbx * 8)
    q = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    seqs = [_zigzag_quant(padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                          - 128.0, q)
            for by in range(nby) for bx in range(nbx)]
    dc_tab = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    # progressive AC scans need EOBn symbols (n<<4, n=1..14), which the
    # Annex-K baseline AC table does not define — emit a custom flat
    # 8-bit-code table covering every symbol this encoder can produce
    # (fixed-length canonical coding is spec-valid; decoders read the
    # table from the DHT segment)
    prog_ac_vals = sorted({n << 4 for n in range(15)} | {0xF0}
                          | {(r << 4) | s
                             for r in range(16) for s in range(1, 11)})
    prog_ac_bits = [0] * 16
    prog_ac_bits[7] = len(prog_ac_vals)
    ac_tab = _huff_codes(prog_ac_bits, prog_ac_vals)

    def dc_first(w, _ss, _se, al):
        pred = 0
        for seq in seqs:
            t = seq[0] >> al  # arithmetic shift = the DC point transform
            size, bits = _magnitude(t - pred)
            pred = t
            code, length = dc_tab[size]
            w.write(code, length)
            if size:
                w.write(bits, size)

    def dc_refine(w, _ss, _se, al):
        for seq in seqs:
            w.write((seq[0] >> al) & 1, 1)

    def ac_first(w, ss, se, al):
        state = {"eob": 0}

        def emit_eobrun():
            if state["eob"]:
                n = state["eob"].bit_length() - 1
                code, length = ac_tab[n << 4]
                w.write(code, length)
                if n:
                    w.write(state["eob"] - (1 << n), n)
                state["eob"] = 0

        for seq in seqs:
            band = []
            for k in range(ss, se + 1):
                v = seq[k]
                band.append((v >> al) if v >= 0 else -((-v) >> al))
            last_nz = -1
            for i, t in enumerate(band):
                if t:
                    last_nz = i
            if last_nz < 0:
                state["eob"] += 1
                if state["eob"] == 0x7FFF:
                    emit_eobrun()
                continue
            emit_eobrun()
            run = 0
            for t in band[:last_nz + 1]:
                if t == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_tab[0xF0]
                    w.write(code, length)
                    run -= 16
                size, bits = _magnitude(t)
                code, length = ac_tab[(run << 4) | size]
                w.write(code, length)
                w.write(bits, size)
                run = 0
            if last_nz < se - ss:
                state["eob"] += 1
                if state["eob"] == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()

    def ac_refine(w, ss, se, al):
        """Successive-approximation refinement, emitted as an exact
        simulation of the decoder's walk (G.1.2.3): correction bits for
        already-significant coefficients are written at the position the
        decoder reads them — inline during each symbol's advance, or
        buffered onto the pending EOBRUN and flushed right after the EOBn
        symbol for run-covered block tails."""
        state = {"eob": 0}
        br: list[int] = []  # corrections owed to the pending EOB run

        def emit_eobrun():
            if state["eob"]:
                n = state["eob"].bit_length() - 1
                code, length = ac_tab[n << 4]
                w.write(code, length)
                if n:
                    w.write(state["eob"] - (1 << n), n)
                state["eob"] = 0
                for b in br:
                    w.write(b, 1)
                br.clear()
            assert not br  # corrections only buffer under a pending run

        for seq in seqs:
            band = [abs(seq[k]) >> al for k in range(ss, se + 1)]
            n = len(band)
            sig = [i for i, t in enumerate(band) if t == 1]
            if not sig:
                # whole block rides the EOB run; its corrections flush
                # after the eventual EOBn symbol, in block/position order
                state["eob"] += 1
                br.extend(t & 1 for t in band if t > 1)
                if state["eob"] == 0x7FFF:
                    emit_eobrun()
                continue
            k = 0
            for s_pos in sig:
                r = sum(1 for i in range(k, s_pos) if band[i] == 0)
                while r > 15:
                    emit_eobrun()
                    code, length = ac_tab[0xF0]
                    w.write(code, length)
                    cnt = 0  # decoder walk: 16 zero-history skips,
                    while cnt < 16:  # corrections read inline
                        if band[k] == 0:
                            cnt += 1
                        elif band[k] > 1:
                            w.write(band[k] & 1, 1)
                        k += 1
                    r -= 16
                emit_eobrun()
                code, length = ac_tab[(r << 4) | 1]
                w.write(code, length)
                w.write(1 if seq[ss + s_pos] > 0 else 0, 1)
                while k < s_pos:
                    if band[k] > 1:
                        w.write(band[k] & 1, 1)
                    k += 1
                k = s_pos + 1
            if k < n:
                # trailing zero-history tail: joins the EOB run
                state["eob"] += 1
                br.extend(band[i] & 1 for i in range(k, n) if band[i] > 1)
                if state["eob"] == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()

    out = bytearray(b"\xff\xd8" + _dqt(0, _JPEG_QTABLE)
                    + _seg(0xC2, struct.pack(">BHHB", 8, height, width, 1)
                           + bytes([1, 0x11, 0]))
                    + _dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
                    + _dht(0x10, prog_ac_bits, prog_ac_vals))
    # scan script: DC first; the AC bands; two refinements per band; the
    # DC refinement bit — as (pass, Ss, Se, Ah, Al)
    script = [(dc_first, 0, 0, 0, 1),
              (ac_first, 1, 5, 0, 2), (ac_first, 6, 63, 0, 2),
              (ac_refine, 1, 5, 2, 1), (ac_refine, 6, 63, 2, 1),
              (ac_refine, 1, 5, 1, 0), (ac_refine, 6, 63, 1, 0),
              (dc_refine, 0, 0, 1, 0)]
    for emit, ss, se, ah, al in script:
        w = _BitWriter()
        emit(w, ss, se, al)
        w.flush()
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += bytes(w.out)
    out += b"\xff\xd9"
    return bytes(out)


# Annex-K-style chroma quantization table (row-major). Huffman tables for
# the chroma ids simply REUSE the luma tables (stored under table id 1 in
# the DHT segments — spec-legal and self-consistent; decoders read the
# tables from the stream, so interop does not depend on matching K.6).
_JPEG_QTABLE_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def _encode_block(w: "_BitWriter", block, qmat, dc_tab, ac_tab,
                  prev_dc: int) -> int:
    """FDCT + quantize + huffman-emit one level-shifted 8x8 block; returns
    the new DC predictor."""
    seq = _zigzag_quant(block, qmat)
    size, bits = _magnitude(seq[0] - prev_dc)
    code, length = dc_tab[size]
    w.write(code, length)
    if size:
        w.write(bits, size)
    last_nz = 0
    for i in range(1, 64):
        if seq[i]:
            last_nz = i
    run = 0
    for i in range(1, last_nz + 1):
        if seq[i] == 0:
            run += 1
            if run == 16:
                code, length = ac_tab[0xF0]  # ZRL
                w.write(code, length)
                run = 0
            continue
        size, bits = _magnitude(seq[i])
        code, length = ac_tab[(run << 4) | size]
        w.write(code, length)
        w.write(bits, size)
        run = 0
    if last_nz != 63:
        code, length = ac_tab[0x00]  # EOB
        w.write(code, length)
    return seq[0]


def encode_jpeg_color(width: int, height: int, y_pixels: bytes,
                      subsampling: str = "4:2:0",
                      cb_pixels: bytes | None = None,
                      cr_pixels: bytes | None = None) -> bytes:
    """Baseline sequential COLOR (YCbCr, 3-component interleaved) JPEG.

    Y carries ``y_pixels``; ``cb_pixels``/``cr_pixels`` are optional
    chroma planes AT CHROMA RESOLUTION — ceil(width/f) x ceil(height/f)
    row-major bytes for subsampling factor f — padded internally by edge
    replication like luma. Omitted chroma defaults to neutral 128 (zero
    after level shift — every chroma block DC-0 + EOB). ``subsampling``
    is ``"4:4:4"`` (f=1) or ``"4:2:0"`` (f=2, Y 2x2 per MCU)."""
    import numpy as np

    f = {"4:4:4": 1, "4:2:0": 2}.get(subsampling)
    if f is None:
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    tile = 8 * f
    ph = (height + tile - 1) // tile * tile
    pw = (width + tile - 1) // tile * tile
    padded = _pad_plane(y_pixels, width, height, ph, pw)
    cw, chh = -(-width // f), -(-height // f)  # chroma extent (ceil)
    chroma = [np.full((ph // f, pw // f), 128.0) if pix is None
              else _pad_plane(pix, cw, chh, ph // f, pw // f)
              for pix in (cb_pixels, cr_pixels)]

    qy = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(_JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    dc_tab = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _BitWriter()
    prev = [0, 0, 0]
    for my in range(ph // tile):
        for mx in range(pw // tile):
            for by in range(f):
                for bx in range(f):
                    r0 = my * tile + by * 8
                    c0 = mx * tile + bx * 8
                    prev[0] = _encode_block(
                        w, padded[r0:r0 + 8, c0:c0 + 8] - 128.0,
                        qy, dc_tab, ac_tab, prev[0])
            for k, plane in enumerate(chroma, 1):
                prev[k] = _encode_block(
                    w, plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] - 128.0,
                    qc, dc_tab, ac_tab, prev[k])
    w.flush()
    return (b"\xff\xd8" + _dqt(0, _JPEG_QTABLE)
            + _dqt(1, _JPEG_QTABLE_CHROMA)
            + _seg(0xC0, struct.pack(">BHHB", 8, height, width, 3)
                   + bytes([1, (f << 4) | f, 0, 2, 0x11, 1, 3, 0x11, 1]))
            + _dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
            + _dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
            + _dht(0x01, _JPEG_DC_BITS, _JPEG_DC_VALS)
            + _dht(0x11, _JPEG_AC_BITS, _JPEG_AC_VALS)
            + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
            + bytes(w.out) + b"\xff\xd9")


class _BitReader:
    """MSB-first bits of one entropy-coded interval. The caller cuts the
    interval at its markers (``_scan_entropy_end``,
    ``_split_restart_intervals``), so every 0xFF byte here is followed by
    a stuffed 0x00."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.synthetic = 0  # zero-fill bits appended past end-of-stream

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0
                self.nbits += 8
                self.synthetic += 8
                continue
            b = self.data[self.pos]
            self.pos += 2 if b == 0xFF else 1  # skip a stuffed 0x00
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        # a conformant stream ends with <= 7 padding bits plus the final
        # byte's spill; consuming well past that means the entropy data is
        # truncated — zero bits otherwise decode as fabricated blocks
        # (valid-looking DC/AC codes) forever, masking the damage
        if self.synthetic - self.nbits > 64:
            raise ValueError("JPEG entropy data truncated")
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def consumed_synthetic(self) -> bool:
        """True once any zero-fill bit past end-of-stream has been CONSUMED
        by a decode (``_fill`` may park synthetic bits in the accumulator
        without them ever being read — those don't count). A conformant
        stream decodes every MCU from real bits only, so consuming even one
        synthetic bit means the entropy data was truncated mid-MCU and the
        affected blocks are fabricated (ADVICE r4)."""
        return self.synthetic > self.nbits


def _huff_decode_tree(bits, vals):
    """(length, code) -> value lookup."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_huff(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("bad huffman code in JPEG stream")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """8-bit huffman JPEG -> (width, height, n_channels, pixels).

    Parses DQT/SOF/DHT/SOS/DRI from the stream (any conformant file, not
    just our encoders' — 0xFF fill bytes per T.81 B.1.1.2 included).
    1-component streams return the gray plane (n_channels=1); 3-component
    YCbCr streams return interleaved RGB (n_channels=3): every component
    plane is dequantized/IDCT'd, subsampled planes — luma included — are
    nearest-upsampled to full resolution (T.81 leaves the filter to the
    decoder; nearest is the analytically-predictable choice the oracles
    use), then converted per the JFIF YCbCr<->RGB matrix with
    floor(x+0.5) rounding and [0,255] clamping. Frame types other than
    SOF0/1/2, precisions other than 8 bits, 2- or 4-component frames and
    interleaved progressive DC scans raise NotImplementedError; malformed
    or truncated input raises ValueError."""
    import numpy as np

    try:
        width, height, comps, hmax, vmax = _decode_jpeg_planes(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed or truncated JPEG stream: {e}") from e
    if len(comps) not in (1, 3):
        raise NotImplementedError(
            f"{len(comps)}-component JPEG ({len(comps)}-channel layouts "
            "have no defined color interpretation — PIL's seam)")
    planes = [_upsample_plane(c["plane"], c, hmax, vmax, width, height)
              for c in comps]
    if len(planes) == 1:
        pix = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return width, height, 1, pix.tobytes()
    return width, height, 3, _ycbcr_to_rgb(*planes).tobytes()


def _upsample_plane(plane, comp, hmax: int, vmax: int,
                    width: int, height: int):
    """Component plane (subsampled by hmax/comp.h x vmax/comp.v) -> full
    (height, width) float array by nearest neighbour: output x maps to
    plane x*h//hmax."""
    import numpy as np

    h, v = comp["h"], comp["v"]
    if h == hmax and v == vmax:
        return plane[:height, :width]
    xs = np.arange(width) * h // hmax
    ys = np.arange(height) * v // vmax
    return plane[np.ix_(ys, xs)]


def _ycbcr_to_rgb(y, cb, cr):
    """JFIF conversion, floor(x+0.5) rounding (identical semantics in
    numpy and SQL — np.round/SQL round() disagree on .5 ties), clamped to
    [0,255]; returns interleaved uint8 (h, w, 3)."""
    import numpy as np

    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


# SOF3/5-7/9-11/13-15 and DHP: lossless, differential, arithmetic and
# hierarchical frames (0xC4 DHT, 0xC8 JPG and 0xCC DAC are not frames)
_SEAM_FRAMES = frozenset(range(0xC3, 0xD0)) - {0xC4, 0xC8, 0xCC} | {0xDE}


def _parse_sof(body: bytes) -> tuple[int, int, list[dict]]:
    """SOF0/1/2 segment body -> (height, width, [{id, h, v, tq}]). Only
    8-bit frames with 1-3 components decode; 12-bit and CMYK/YCCK
    frames hit the NotImplementedError seam."""
    prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
    if prec != 8 or ncomp > 3:
        raise NotImplementedError(
            f"{prec}-bit {ncomp}-component JPEG: only 8-bit frames with "
            "1-3 components decode natively — PIL plugs in here")
    comps = []
    for c in range(ncomp):
        cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
    return height, width, comps


def _decode_jpeg_planes(data: bytes):
    """One marker walk over a JPEG stream. Each scan is entropy-decoded
    into its components' coefficient blocks as the walk reaches it; then
    every component is dequantized and inverse-DCT'd in one vectorized
    pass. Returns (width, height, comps, hmax, vmax), each comp carrying
    its MCU-padded sample ``plane``."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame: dict = {}
    restart_interval = 0
    n_scans = 0
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:
            _parse_dqt_body(body, qtables)
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline and SOF1 extended sequential share the scan
            # structure (SOF1 adds table ids 2-3; the huff dict is
            # id-agnostic already); SOF2 scans are progressive
            frame = _frame(body, progressive=marker == 0xC2)
        elif marker in _SEAM_FRAMES:
            raise NotImplementedError(
                f"JPEG frame type 0x{marker:02X} (lossless, arithmetic, "
                "differential or hierarchical coding): only sequential "
                "(SOF0/SOF1) and progressive huffman (SOF2) decode "
                "natively — PIL plugs in here")
        elif marker == 0xC4:
            _parse_dht_body(body, huff)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if not frame:
                raise ValueError("JPEG scan before its frame header")
            end = _scan_entropy_end(data, pos)
            _decode_scan(frame, body, data[pos:end], huff, restart_interval)
            pos = end
            n_scans += 1
    if not n_scans:
        raise ValueError("truncated JPEG (no SOF/SOS)")
    C = _dct_matrix()
    for c in frame["comps"]:
        q = np.empty(64)
        q[_JPEG_ZIGZAG] = qtables[c["tq"]]  # zigzag -> natural order
        nby, nbx = c["coef"].shape[:2]
        blocks = (c["coef"] * q).reshape(nby, nbx, 8, 8)
        px = np.einsum("ji,yxjk,kl->yxil", C, blocks, C) + 128.0
        c["plane"] = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
    return (frame["width"], frame["height"], frame["comps"],
            frame["hmax"], frame["vmax"])


def _frame(sof_body: bytes, progressive: bool) -> dict:
    """Frame geometry from an SOF segment, with a zeroed natural-order
    coefficient array per component over its MCU-covering block grid.
    Any component may be subsampled, luma included."""
    import numpy as np

    height, width, comps = _parse_sof(sof_body)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["coef"] = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                             dtype=np.int32)
        # single-component scans cover only the component's own grid
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        c["nbx"] = -(-cw // 8)
        c["nby"] = -(-ch // 8)
    return {"width": width, "height": height, "comps": comps,
            "hmax": hmax, "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y,
            "progressive": progressive}


def _decode_scan(frame: dict, sos: bytes, ecs: bytes, huff: dict,
                 dri: int) -> None:
    """Entropy-decode one scan into its components' coefficient blocks.

    A sequential scan carries whole blocks, MCU-interleaved when it names
    more than one component, else in raster order over that component's
    own block grid. A progressive scan (T.81 G.2) carries one component's
    DC (first pass or refinement bit) or one spectral band of its AC
    (first pass with EOBRUN, or successive-approximation refinement).
    Restart intervals reset the predictors and EOBRUN. A unit that
    consumed zero-fill bits past end-of-stream raises ValueError: its
    coefficients would be fabricated."""
    ns = sos[0]
    by_id = {c["id"]: c for c in frame["comps"]}
    scomps = [(by_id[sos[1 + 2 * k]], huff.get((0, sos[2 + 2 * k] >> 4)),
               huff.get((1, sos[2 + 2 * k] & 0x0F))) for k in range(ns)]
    if frame["progressive"]:
        ss, se, a = sos[1 + 2 * ns:4 + 2 * ns]
        ah, al = a >> 4, a & 0x0F
        if ss == 0 and se != 0:
            raise ValueError("DC scan with Se != 0")
        if ss != 0 and ns != 1:  # T.81 G.1.1.1
            raise ValueError("interleaved AC scan in progressive JPEG")
        if ns != 1:
            raise NotImplementedError(
                "interleaved progressive DC scan: only single-component "
                "progressive scans decode natively — PIL plugs in here")
    else:  # a sequential scan is one pass over the whole spectrum
        ss, se, ah, al = 0, 63, 0, 0
    # the SOS header names tables the scan may never use, but a table
    # the scan DOES need missing its DHT is malformed input
    if any((ss == 0 and ah == 0 and dc is None) or (se and ac is None)
           for _, dc, ac in scomps):
        raise ValueError("scan references an undefined huffman table "
                         "(missing DHT)")
    intervals = _split_restart_intervals(ecs)
    if len(intervals) > 1 and dri == 0:
        raise ValueError("restart markers present but no DRI segment")
    mcus_x = frame["mcus_x"]
    comp = scomps[0][0]
    units = (mcus_x * frame["mcus_y"] if ns > 1
             else comp["nbx"] * comp["nby"])
    band = _ac_first_pass if ah == 0 else _ac_refine_pass
    done = 0
    for ci, chunk in enumerate(intervals):
        reader = _BitReader(chunk)
        preds = {c["id"]: 0 for c, _, _ in scomps}
        eobrun = 0
        in_chunk = (dri if dri and ci < len(intervals) - 1
                    else units - done)
        for _ in range(min(in_chunk, units - done)):
            if ns > 1:  # one MCU: each component's h x v blocks in turn
                my, mx = divmod(done, mcus_x)
                blocks = [(c, dc, ac, my * c["v"] + by, mx * c["h"] + bx)
                          for c, dc, ac in scomps
                          for by in range(c["v"]) for bx in range(c["h"])]
            else:
                blocks = [(*scomps[0], *divmod(done, comp["nbx"]))]
            for c, dc_tab, ac_tab, by, bx in blocks:
                blk = c["coef"][by, bx]
                if ss == 0:
                    preds[c["id"]] = _dc_pass(reader, dc_tab, blk, ah, al,
                                              preds[c["id"]])
                if se:
                    eobrun = band(reader, ac_tab, blk, max(ss, 1), se, al,
                                  eobrun, _JPEG_ZIGZAG)
            done += 1
            if reader.consumed_synthetic():
                raise ValueError(
                    "JPEG entropy data truncated (stream ended mid-MCU)")
    if done < units:
        raise ValueError("JPEG entropy data truncated")


def _scan_entropy_end(data: bytes, pos: int) -> int:
    """End of an entropy-coded segment starting at ``pos``: the first 0xFF
    followed by a real marker (not a stuffed 0x00, not RSTn — those stay
    inside the segment)."""
    i = pos
    n = len(data)
    while i < n:
        if data[i] != 0xFF:
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i += 2
            continue
        break
    return i


def _split_restart_intervals(ecs: bytes) -> list[bytes]:
    """Split entropy bytes on RSTn markers (same contract as baseline)."""
    intervals, start, i = [], 0, 0
    while i + 1 < len(ecs):
        if ecs[i] == 0xFF and 0xD0 <= ecs[i + 1] <= 0xD7:
            intervals.append(ecs[start:i])
            i += 2
            start = i
        elif ecs[i] == 0xFF and ecs[i + 1] == 0x00:
            i += 2
        else:
            i += 1
    intervals.append(ecs[start:])
    return intervals


def _dc_pass(reader: _BitReader, dc_tab, blk, ah: int, al: int,
             pred: int) -> int:
    """One block's DC contribution: first pass (Ah=0) huffman-decodes the
    diff at Al precision; refinement ORs in the next bit."""
    if ah == 0:
        size = _read_huff(reader, dc_tab)
        pred += _extend(reader.read_bits(size), size)
        blk[0] = pred << al
    else:
        if reader.read_bit():
            blk[0] |= (1 << al)
    return pred


def _ac_first_pass(reader: _BitReader, ac_tab, blk, ss: int, se: int,
                   al: int, eobrun: int, zz) -> int:
    """G.1.2.2: first AC pass of a band — RS symbols with EOBRUN."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC index overrun in progressive scan")
        blk[zz[k]] = _extend(reader.read_bits(s), s) << al
        k += 1
    return eobrun


def _ac_refine_pass(reader: _BitReader, ac_tab, blk, ss: int, se: int,
                    al: int, eobrun: int, zz) -> int:
    """G.1.2.3: AC successive-approximation refinement — newly-significant
    coefficients arrive as ±1<<Al; already-significant ones receive one
    correction bit each."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(reader, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        "invalid newly-significant magnitude in AC "
                        "refinement scan")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                z = zz[k]
                cur = int(blk[z])
                if cur != 0:
                    if reader.read_bit() and (cur & p1) == 0:
                        blk[z] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        if val:
                            blk[z] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            z = zz[k]
            cur = int(blk[z])
            if cur != 0:
                if reader.read_bit() and (cur & p1) == 0:
                    blk[z] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


# ---------------------------------------------------------------------------
# AVI video container: pure struct over the public RIFF/AVI spec. MJPEG
# frames are JPEGs (decode_jpeg above) and DIB frames bottom-up BGR, so a
# video column decodes end-to-end with zero external libraries. Other
# codecs raise NotImplementedError — the video seam.
# ---------------------------------------------------------------------------

_AVI_FPS = 10  # frame rate the AVI encoders write (no decoder reads it)


def _riff_avi(frames: list[bytes], width: int, height: int, handler: bytes,
              compression: bytes, size_image: int, tag: bytes) -> bytes:
    """Minimal single-stream AVI: RIFF(AVI ) / LIST(hdrl)(avih +
    LIST(strl)(strh vids/``handler`` + strf BITMAPINFOHEADER)) /
    LIST(movi) with one ``tag`` chunk per frame / idx1."""
    if not frames:
        raise ValueError("need at least one frame")

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def list_chunk(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I", 1_000_000 // _AVI_FPS, max_bytes * _AVI_FPS, 0, 0x10,
        len(frames), 0, 1, max_bytes, width, height, 0, 0, 0, 0)
    # fccType fccHandler dwFlags wPriority wLanguage dwInitialFrames
    # dwScale dwRate dwStart dwLength dwSuggestedBufferSize dwQuality
    # dwSampleSize rcFrame(4 int16) — 56 bytes total
    strh = (b"vids" + handler
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, _AVI_FPS, 0,
                          len(frames), max_bytes, 0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       compression, size_image, 0, 0, 0, 0)
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih) + list_chunk(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = list_chunk(b"movi", b"".join(chunk(tag, f) for f in frames))
    # idx1 backs the AVIF_HASINDEX flag set in avih (the flag without the
    # chunk breaks strict external parsers); offsets are relative to the
    # 'movi' fourcc per the classic convention
    entries = bytearray()
    off = 4
    for f in frames:
        entries += tag + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(entries))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int) -> bytes:
    """MJPEG AVI: one 00dc chunk per JPEG frame."""
    return _riff_avi(frames, width, height, b"MJPG", b"MJPG",
                     width * height * 3, b"00dc")


def _bgr24_rows(img) -> bytes:
    """(height, width) gray array -> bottom-up 24-bit B=G=R rows, each
    padded to 4 bytes: the BMP and DIB pixel layout."""
    import numpy as np

    height, width = img.shape
    rows = np.zeros((height, (width * 3 + 3) & ~3), dtype=np.uint8)
    rows[:, :width * 3] = np.repeat(
        img[::-1, :, None], 3, axis=2).reshape(height, width * 3)
    return rows.tobytes()


def encode_avi_raw(frames_gray: list[bytes], width: int, height: int) -> bytes:
    """Uncompressed AVI (handler 'DIB ', biCompression=0): one 00db chunk
    per frame, each a classic bottom-up 24-bit BGR DIB with rows padded to
    4 bytes. ``frames_gray`` supplies width*height grayscale bytes per
    frame (replicated into B=G=R)."""
    import numpy as np

    dibs = []
    for g in frames_gray:
        if len(g) != width * height:
            raise ValueError("each frame must be width*height bytes")
        dibs.append(_bgr24_rows(
            np.frombuffer(g, dtype=np.uint8).reshape(height, width)))
    return _riff_avi(dibs, width, height, b"DIB ", bytes(4),
                     ((width * 3 + 3) & ~3) * height, b"00db")


def encode_bmp(width: int, height: int, pixels: bytes,
               mode: str = "bgr24") -> bytes:
    """Grayscale-input BMP encoder (the analytic-oracle path): ``pixels``
    is width*height gray bytes and the decoded RGB sum is exactly 3x the
    gray sum in every mode. ``mode``: ``"bgr24"`` (bottom-up B=G=R,
    stride-padded), ``"pal8"`` (8-bit palettized through an identity-gray
    BGRX table), ``"rle8"`` (BI_RLE8 row runs over the identity palette)
    or ``"bf32"`` (BI_BITFIELDS 32-bit with the classic
    0xFF0000/0xFF00/0xFF masks)."""
    import numpy as np

    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    pal = b"".join(bytes([k, k, k, 0]) for k in range(256))
    masks = b""
    if mode == "bgr24":
        body, bits, comp, table = _bgr24_rows(img), 24, 0, b""
    elif mode == "pal8":
        stride = (width + 3) & ~3
        rows = np.zeros((height, stride), dtype=np.uint8)
        rows[:, :width] = img[::-1]
        body, bits, comp, table = rows.tobytes(), 8, 0, pal
    elif mode == "rle8":
        blob = bytearray()
        for y in range(height - 1, -1, -1):  # stored bottom-up
            row = img[y]
            x = 0
            while x < width:
                run = 1
                while (x + run < width and run < 255
                       and row[x + run] == row[x]):
                    run += 1
                blob += bytes([run, int(row[x])])
                x += run
            blob += b"\x00\x00"
        blob += b"\x00\x01"
        body, bits, comp, table = bytes(blob), 8, 1, pal
    elif mode == "bf32":
        rows = np.zeros((height, width, 4), dtype=np.uint8)
        rows[:, :, :3] = img[::-1, :, None]  # B = G = R
        body, bits, comp, table = rows.tobytes(), 32, 3, b""
        masks = struct.pack("<III", 0xFF0000, 0x00FF00, 0x0000FF)
    else:
        raise ValueError(
            "mode must be 'bgr24', 'pal8', 'rle8' or 'bf32'")
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bits, comp,
                       len(body), 0, 0, 256 if table else 0, 0)
    off = 14 + 40 + len(masks) + len(table)
    head = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + masks + table + body


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """BMP file -> (width, height, 3, interleaved RGB).

    BITMAPINFOHEADER bitmaps: 24-bit BGR; 8-bit palettized through the
    BGRX color table, uncompressed or BI_RLE8 (encoded runs, absolute
    mode with word alignment, end-of-line/end-of-bitmap/delta escapes;
    skipped pixels read as palette index 0); 32-bit BGRX (X dropped) or
    BI_BITFIELDS through its per-channel masks. Rows are 4-byte aligned;
    positive biHeight is bottom-up, negative top-down (top-down is
    invalid for RLE per the format and raises ValueError). Other depths
    and compressions raise NotImplementedError (PIL's seam)."""
    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (off_bits,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP")
    width, height_s = struct.unpack("<ii", data[18:26])
    _planes, bits, comp = struct.unpack("<HHI", data[26:34])
    (n_colors,) = struct.unpack("<I", data[46:50])
    if (bits, comp) not in ((24, 0), (8, 0), (8, 1), (32, 0), (32, 3)):
        raise NotImplementedError(
            f"{bits}-bit BMP with compression {comp} needs PIL: 24-bit, "
            "8-bit (plain or BI_RLE8) and 32-bit (plain or BI_BITFIELDS) "
            "decode natively")
    top_down = height_s < 0
    height = abs(height_s)
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    if comp == 1:  # BI_RLE8
        if top_down:
            raise ValueError("top-down RLE BMP is invalid")
        idx = _decode_bmp_rle8(data[off_bits:], width, height)[::-1]
    else:
        bpp = bits // 8
        stride = (width * bpp + 3) & ~3
        px = data[off_bits:off_bits + stride * height]
        if len(px) < stride * height:
            raise ValueError("BMP pixel data truncated")
        rows = np.frombuffer(px, dtype=np.uint8).reshape(height, stride)
        body = rows[:, :width * bpp].reshape(height, width, bpp)
        if not top_down:
            body = body[::-1]
        if comp == 3:  # BI_BITFIELDS: per-channel masks after the header
            v = np.ascontiguousarray(body).view("<u4")[:, :, 0]
            chans = []
            for mask in struct.unpack("<III", data[54:66]):
                if mask == 0:
                    raise ValueError("BI_BITFIELDS zero channel mask")
                shift = (mask & -mask).bit_length() - 1
                # scale the n-bit channel to 8 bits (255 * x / max)
                chans.append(((v & np.uint32(mask)) >> shift)
                             * 255 // np.uint32(mask >> shift))
            rgb = np.stack(chans, axis=-1).astype(np.uint8)
            return width, height, 3, rgb.tobytes()
        if bits != 8:  # BGR(X) -> RGB, X dropped
            rgb = np.ascontiguousarray(body[:, :, [2, 1, 0]])
            return width, height, 3, rgb.tobytes()
        idx = body[:, :, 0]
    n = n_colors or 256
    table = np.frombuffer(data[14 + hdr_size:14 + hdr_size + 4 * n],
                          dtype=np.uint8).reshape(-1, 4)
    if table.shape[0] < n:
        raise ValueError("BMP color table truncated")
    if int(idx.max(initial=0)) >= table.shape[0]:
        raise ValueError("BMP palette index out of range")
    rgb = table[idx][:, :, [2, 1, 0]]  # BGRX -> RGB
    return width, height, 3, np.ascontiguousarray(rgb).tobytes()


def _decode_bmp_rle8(blob: bytes, width: int, height: int) -> "np.ndarray":
    """BI_RLE8 stream -> (height, width) palette-index raster in STORED
    (bottom-up) row order. Escapes: 00 00 = end of line, 00 01 = end of
    bitmap, 00 02 dx dy = position delta; 00 n (n>=3) = absolute mode (n
    literal indices, data padded to a word boundary); c v (c>0) = run of
    c copies of v. Pixels never written stay 0."""
    import numpy as np

    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(blob)
    while i + 1 < n:
        c, v = blob[i], blob[i + 1]
        i += 2
        if c:  # encoded run
            if y < height:
                out[y, x:x + c] = v
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 1 >= n:
                raise ValueError("BMP RLE delta truncated")
            x += blob[i]
            y += blob[i + 1]
            i += 2
        else:  # absolute mode: v literal indices, word aligned
            if i + v + (v & 1) > n:
                raise ValueError("BMP RLE absolute run truncated")
            for val in blob[i:i + v]:
                if y < height and x < width:
                    out[y, x] = val
                x += 1
            i += v + (v & 1)
    raise ValueError("BMP RLE stream missing end-of-bitmap")


def decode_dib_frame(frame: bytes, width: int, height: int,
                     ) -> "tuple[int, int, int, bytes]":
    """One 24-bit BI_RGB DIB frame -> (width, height, 3, interleaved RGB
    top-down). Rows are bottom-up and 4-byte padded in the container."""
    import numpy as np

    stride = (width * 3 + 3) & ~3
    if len(frame) < stride * height:
        raise ValueError("DIB frame truncated")
    rows = np.frombuffer(frame[:stride * height],
                         dtype=np.uint8).reshape(height, stride)
    bgr = rows[:, :width * 3].reshape(height, width, 3)[::-1, :, :]
    rgb = bgr[:, :, ::-1]
    return width, height, 3, np.ascontiguousarray(rgb).tobytes()


def decode_avi_frames(data: bytes) -> tuple[int, int, str, list[bytes]]:
    """AVI -> (width, height, codec, [frame bytes]). Parses any RIFF/AVI
    layout (walks chunks, finds LIST movi, collects 00dc/00db). ``codec``
    is ``"mjpg"`` (frames are baseline JPEGs) or ``"dib"`` (frames are
    uncompressed bottom-up BGR — decode with :func:`decode_dib_frame`);
    any other handler raises NotImplementedError (real codecs — pyav's
    seam)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    width = height = None
    codec = None
    in_vids = False
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, codec, in_vids
        while pos + 8 <= end:
            tag = data[pos:pos + 4]
            (ln,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body_start = pos + 8
            if tag == b"LIST":
                walk(body_start + 4, body_start + ln)
            elif tag == b"avih":
                vals = struct.unpack("<14I", data[body_start:body_start + 56])
                width, height = vals[8], vals[9]
            elif tag == b"strh":
                fcc_type = data[body_start:body_start + 4]
                handler = data[body_start + 4:body_start + 8]
                in_vids = fcc_type == b"vids"
                if in_vids:
                    if handler in (b"MJPG", b"mjpg"):
                        codec = "mjpg"
                    elif handler in (b"DIB ", b"RGB ", b"\x00\x00\x00\x00"):
                        codec = "dib"
                    else:
                        raise NotImplementedError(
                            f"video codec {handler!r} needs a real decoder "
                            "(pyav plugs in here); MJPG and uncompressed "
                            "DIB decode natively")
            elif tag == b"strf" and in_vids and ln >= 20:
                # a zeroed fccHandler may still name a compressed codec
                # (e.g. MS-RLE) in the strf biCompression field (review
                # r6) — trust it over the handler default
                (bi_comp,) = struct.unpack(
                    "<I", data[body_start + 16:body_start + 20])
                if codec == "dib" and bi_comp != 0:
                    raise NotImplementedError(
                        f"video stream biCompression {bi_comp} needs a "
                        "real decoder (pyav plugs in here)")
                in_vids = False
            elif tag in (b"00dc", b"00db"):
                frames.append(data[body_start:body_start + ln])
            pos = body_start + ln + (ln & 1)

    walk(12, len(data))
    if width is None or not frames:
        raise ValueError("AVI missing header or frames")
    return width, height, codec or "mjpg", frames


def _wav(body: bytes, bits: int) -> bytes:
    """Mono 8000 Hz integer-PCM RIFF/WAVE around sample bytes ``body``."""
    ba = bits // 8
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * ba, ba, bits)
    riff = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def encode_wav(samples) -> bytes:
    """16-bit PCM mono WAV at 8000 Hz from an int iterable (clamped to
    int16)."""
    import numpy as np

    s = np.clip(np.asarray(list(samples), dtype=np.int64), -32768, 32767)
    return _wav(s.astype("<i2").tobytes(), 16)


def encode_wav_pcm24(samples) -> bytes:
    """24-bit packed little-endian PCM mono WAV at 8000 Hz; ``samples``
    are ints clamped to the 24-bit signed range."""
    import numpy as np

    s = np.clip(np.asarray(list(samples), dtype=np.int64),
                -(1 << 23), (1 << 23) - 1).astype("<i4")
    return _wav(s.view(np.uint8).reshape(-1, 4)[:, :3].tobytes(), 24)


def decode_wav(data: bytes) -> tuple[int, list[int]]:
    """Mono integer-PCM WAV at 16 or 24 bits -> (sample_rate, samples as
    ints). Every other format — float32, 8-bit, multichannel, G.711,
    ADPCM, GSM, MP3-in-WAV — raises NotImplementedError (the
    soundfile/torchaudio seam)."""
    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    rate = bits = None
    samples: list[int] = []
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + length]
        pos += 8 + length + (length & 1)
        if tag == b"fmt ":
            afmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if (afmt, channels) != (1, 1) or bits not in (16, 24):
                raise NotImplementedError(
                    f"decode_wav supports mono integer PCM at 16 or 24 "
                    f"bits (got fmt={afmt}, ch={channels}, bits={bits}) "
                    "— float, 8-bit, multichannel and compressed WAV are "
                    "the soundfile/torchaudio seam")
        elif tag == b"data":
            if bits is None:
                raise ValueError("data chunk before fmt chunk")
            if bits == 24:
                b3 = np.frombuffer(body[:len(body) - len(body) % 3],
                                   np.uint8).reshape(-1, 3).astype(np.int32)
                v = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
                samples = np.where(v & 0x800000, v - (1 << 24), v).tolist()
            else:
                samples = np.frombuffer(
                    body[:len(body) & ~1], dtype="<i2").tolist()
    if rate is None:
        raise ValueError("missing fmt chunk")
    return rate, samples
