"""Real media codecs with no external libraries (VERDICT r2 #3, r3 #3):

- PNG: stdlib ``zlib`` + ``struct`` over the public PNG spec — decode
  covers gray/RGB/palette/alpha at depths 1-8, bpp-aware scanline
  filters 0-4, sequential and Adam7; grayscale filters 0-2 on encode;
- WAV: ``struct`` over the public RIFF/WAVE spec (integer PCM
  8/16/24-bit and IEEE float32 at 1-32 channels);
- GIF: pure-Python LZW over the public GIF87a/GIF89a spec (8-bit
  palettized, variable-width codes up to 12 bits, interlaced or not;
  animated compositing with transparency + disposal, r5);
- JPEG (r4/r5): the public ITU T.81 spec at 8-bit precision — baseline
  sequential (SOF0; SOF1 shares its scan loop) and progressive huffman
  (SOF2 spectral selection + successive approximation, EOBRUN,
  correction bits), grayscale and 2-3-component interleaved color with
  full-RGB output (nearest chroma upsampling), any sampling layout
  (luma included), multi-scan non-interleaved streams, 16-bit DQT,
  restart intervals, fill bytes, strict truncation detection;
- BMP (r5/r6): uncompressed 16/24/32-bit BGR(X) incl. BI_BITFIELDS
  masks, palettized 1/4/8-bit (MSB-first sub-byte packing),
  BI_RLE8/BI_RLE4 run-length decode (escapes, absolute mode, deltas)
  and BI_JPEG/BI_PNG embedded-stream handoff — r6;
- AVI (r4): RIFF-AVI container walk + idx1 index; MJPEG (per-frame
  JPEG) and uncompressed DIB streams.

These turn the multimodal operators' real-decode seam into
working decoders for the formats the derived corpus emits. Everything
else raises ``NotImplementedError`` naming the library that plugs in
there (see COVERAGE.md "Codec capability matrix"): JPEG lossless
(SOF3), arithmetic (SOF9-11), differential/hierarchical (SOF5-7,
SOF13-15, DHP), 12-bit and 4-component CMYK/YCCK streams; 16-bit PNG;
compressed WAV (G.711, ADPCM, GSM, MP3); AVI codecs other than MJPEG
and DIB.
"""

from __future__ import annotations

import functools
import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


_PNG_CTYPE_OF = {1: 0, 3: 2, 2: 4, 4: 6}  # channels -> PNG color type


def encode_png(width: int, height: int, pixels: bytes,
               filter_type: int = 0, channels: int = 1) -> bytes:
    """8-bit PNG — grayscale by default, or RGB / gray+alpha / RGBA via
    ``channels`` (r5). ``pixels`` is row-major channel-interleaved
    ``width*height*channels`` bytes; ``filter_type`` in {0 (None),
    1 (Sub, left neighbor at bpp distance), 2 (Up)} is applied to every
    scanline (the decoder handles all five standard filters)."""
    if channels not in _PNG_CTYPE_OF:
        raise ValueError("channels must be 1, 2, 3 or 4")
    if len(pixels) != width * height * channels:
        raise ValueError("pixels must be width*height*channels bytes")
    if filter_type not in (0, 1, 2):
        raise ValueError("encoder supports filters 0/1/2")
    # vectorized filtering (r4): uint8 wraparound IS the mod-256 the spec
    # wants, so Sub/Up are one numpy subtraction per image
    import numpy as np

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width * channels)
    if filter_type == 0:
        filt = img
    elif filter_type == 1:  # Sub: delta vs left neighbor (bpp bytes back)
        filt = img.copy()
        filt[:, channels:] -= img[:, :-channels]
    else:  # Up: delta vs same column of prior row
        filt = img.copy()
        filt[1:, :] -= img[:-1, :]
    raw = bytearray()
    ft = bytes([filter_type])
    for r in range(height):
        raw += ft
        raw += filt[r].tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8,
                       _PNG_CTYPE_OF[channels], 0, 0, 0)
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA

# Adam7 interlace passes: (x0, y0, dx, dy) in file order
_ADAM7_PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                 (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, height: int, width: int, bpp: int):
    """Reverse the standard scanline filters over ``height`` rows of
    ``1 + width*bpp`` bytes; returns a (height, width*bpp) uint8 array.
    Each call is an independent filter context (prior row starts zero),
    which is exactly the per-pass semantics Adam7 needs."""
    import numpy as np

    rowbytes = width * bpp
    stride = rowbytes + 1
    if len(raw) != stride * height:
        raise ValueError("IDAT size mismatch")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    fts = scan[:, 0]
    rows = scan[:, 1:]
    out = np.empty((height, rowbytes), dtype=np.uint8)
    prior = np.zeros(rowbytes, dtype=np.uint8)
    for r in range(height):
        ft = int(fts[r])
        row = rows[r]
        if ft == 0:
            cur = row.copy()
        elif ft == 1:  # Sub: per-channel prefix-sum (uint8 wraps mod 256)
            cur = np.cumsum(row.reshape(width, bpp), axis=0,
                            dtype=np.uint8).reshape(rowbytes)
        elif ft == 2:  # Up: one vector add
            cur = row + prior
        elif ft == 3:  # Average (sequential left-dependency: scalar loop)
            cur = np.empty(rowbytes, dtype=np.uint8)
            for i in range(rowbytes):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(row[i]) + (left + int(prior[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth (sequential left-dependency: scalar loop)
            cur = np.empty(rowbytes, dtype=np.uint8)
            for i in range(rowbytes):
                left = int(cur[i - bpp]) if i >= bpp else 0
                upleft = int(prior[i - bpp]) if i >= bpp else 0
                cur[i] = (int(row[i])
                          + _paeth(left, int(prior[i]), upleft)) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[r] = cur
        prior = cur
    return out


def decode_png_ex(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG -> (width, height, n_channels, channel-interleaved pixels).

    Supports grayscale (type 0) and palette (3) at depths 1/2/4/8 and
    RGB (2), gray+alpha (4), RGBA (6) at depth 8, with any standard
    scanline filter — the filter left-neighbor distance is the pixel's
    byte width (bpp; 1 for packed sub-byte rows), per the spec — in
    sequential OR Adam7-interlaced layout at EVERY supported depth (r5:
    each of the seven passes unfilters — and bit-unpacks — as its own
    sub-image). Sub-byte gray scales exactly to 8-bit (255/(2^d-1) is
    integral); palette indices resolve through PLTE to RGB; tRNS
    transparency is ignored. 16-bit streams raise NotImplementedError
    (PIL's seam)."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(PNG_SIG)
    width = height = None
    bpp = None
    ctype = None
    interlace = 0
    palette = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            interlace = body[12]
            ok = (interlace in (0, 1)
                  and ((depth == 8 and ctype in (_PNG_CHANNELS.keys()
                                                 | {3}))
                       or (depth in (1, 2, 4) and ctype in (0, 3))))
            if depth == 16:
                raise NotImplementedError(
                    "16-bit PNG needs an image codec library (PIL plugs "
                    "in here); depths 1-8 decode natively")
            if not ok:
                raise NotImplementedError(
                    f"decode_png_ex supports color types 0/3 at depths "
                    f"1/2/4/8 and 2/4/6 at depth 8 (got depth={depth}, "
                    f"color_type={ctype}, interlace={interlace})")
            bpp = 1 if ctype == 3 or depth < 8 else _PNG_CHANNELS[ctype]
        elif tag == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError("malformed PLTE chunk")
            palette = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    if ctype == 3 and palette is None:
        raise ValueError("palette image missing PLTE chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"bad or missing IDAT stream: {e}") from e
    import numpy as np

    def unfilter_block(block: bytes, ph: int, pw: int):
        """One sequential sub-image (a whole file or an Adam7 pass) ->
        (ph, pw*bpp) sample bytes, bit-unpacking sub-byte rows."""
        if depth < 8:
            packed_w = -(-pw * depth // 8)  # ceil: packed row bytes
            return _png_unpack_bits(
                _png_unfilter(block, ph, packed_w, 1), pw, depth)
        return _png_unfilter(block, ph, pw, bpp)

    def block_len(ph: int, pw: int) -> int:
        per_row = -(-pw * depth // 8) if depth < 8 else pw * bpp
        return (per_row + 1) * ph

    if interlace == 0:
        if len(raw) != block_len(height, width):
            raise ValueError("IDAT size mismatch")
        out = unfilter_block(raw, height, width)
    else:  # Adam7: seven independently-filtered sub-images
        out = np.empty((height, width * bpp), dtype=np.uint8)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = max(0, -(-(width - x0) // dx))
            ph = max(0, -(-(height - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            ln = block_len(ph, pw)
            sub = unfilter_block(raw[pos2:pos2 + ln], ph, pw)
            pos2 += ln
            cols = np.arange(x0, width, dx)
            out3 = out.reshape(height, width, bpp)
            out3[y0::dy, cols, :] = sub.reshape(ph, pw, bpp)
        if pos2 != len(raw):
            raise ValueError("IDAT size mismatch")
    if depth < 8 and ctype == 0:
        # scale exactly to 8-bit (255/(2^d-1) is integral for d=1/2/4)
        out = (out * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if ctype == 3:
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(-1)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        return width, height, 3, pal[idx].tobytes()
    return width, height, bpp, out.tobytes()


def _png_unpack_bits(packed, width: int, depth: int):
    """(h, packed_bytes) -> (h, width) sample values for depth 1/2/4
    (MSB-first within each byte, row-end padding bits dropped)."""
    import numpy as np

    per = 8 // depth
    shifts = np.array([8 - depth * (i + 1) for i in range(per)],
                      dtype=np.uint8)
    vals = ((packed[:, :, None] >> shifts[None, None, :])
            & ((1 << depth) - 1))
    return vals.reshape(packed.shape[0], -1)[:, :width].astype(np.uint8)


_GIF_GRAY_PALETTE = b"".join(bytes((i, i, i)) for i in range(256))

# GIF interlace passes: (first row, row step) in file order
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(height: int) -> list[int]:
    return [r for start, step in _GIF_PASSES
            for r in range(start, height, step)]


def _lzw_pack(codes, width_of) -> bytearray:
    """LSB-first bit packing of (code, width) pairs per the GIF spec."""
    out = bytearray()
    bitbuf = bitlen = 0
    for code in codes:
        bitbuf |= code << bitlen
        bitlen += width_of(code)
        while bitlen >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitlen -= 8
    if bitlen:
        out.append(bitbuf & 0xFF)
    return out


def encode_gif(width: int, height: int, pixels: bytes,
               interlace: bool = False) -> bytes:
    """8-bit grayscale GIF89a (256-entry gray global palette, so palette
    index == gray value). The LZW stream is literal-coded with a CLEAR
    every 253 pixels — valid output any decoder accepts, held at 9-bit
    codes (the decoder side handles full variable-width compression)."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    if not (0 < width < 65536 and 0 < height < 65536):
        raise ValueError("dims must fit uint16")
    head = b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    head += _GIF_GRAY_PALETTE
    flags = 0x40 if interlace else 0
    head += b"\x2C" + struct.pack("<HHHHB", 0, 0, width, height, flags)
    if interlace:
        ordered = b"".join(pixels[r * width:(r + 1) * width]
                           for r in _gif_interlace_order(height))
    else:
        ordered = pixels
    clear, eoi = 256, 257
    codes: list[int] = []
    for i in range(0, len(ordered), 253):
        codes.append(clear)
        codes.extend(ordered[i:i + 253])
    codes.append(eoi)
    packed = _lzw_pack(codes, lambda _c: 9)
    body = bytearray(b"\x08")  # LZW minimum code size
    for i in range(0, len(packed), 255):
        chunk = packed[i:i + 255]
        body.append(len(chunk))
        body += chunk
    body.append(0)  # block terminator
    return head + bytes(body) + b"\x3B"


def encode_gif_anim(screen_w: int, screen_h: int, frames: list) -> bytes:
    """Animated GIF89a (gray global palette). ``frames`` is a list of
    dicts: ``left top width height pixels`` (gray bytes = palette
    indices) plus optional ``disposal`` (0 none, 1 keep, 2
    restore-background, 3 restore-previous), ``transparent`` (index or
    None) and ``interlace``; the background index is 0. Each frame gets
    its own Graphic Control Extension; the same literal LZW coding as
    :func:`encode_gif`."""
    if not frames:
        raise ValueError("need at least one frame")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", screen_w, screen_h, 0xF7, 0, 0)
    out += _GIF_GRAY_PALETTE
    for f in frames:
        left, top = f.get("left", 0), f.get("top", 0)
        w, h = f["width"], f["height"]
        px = f["pixels"]
        if len(px) != w * h:
            raise ValueError("frame pixels must be width*height bytes")
        if left + w > screen_w or top + h > screen_h:
            raise ValueError("frame rect outside the logical screen")
        transparent = f.get("transparent")
        disposal = f.get("disposal", 0)
        flags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, flags, 0, 0,
                      transparent or 0, 0])
        iflags = 0x40 if f.get("interlace") else 0
        out += b"\x2C" + struct.pack("<HHHHB", left, top, w, h, iflags)
        if f.get("interlace"):
            ordered = b"".join(px[r * w:(r + 1) * w]
                               for r in _gif_interlace_order(h))
        else:
            ordered = px
        clear, eoi = 256, 257
        codes: list[int] = []
        for i in range(0, len(ordered), 253):
            codes.append(clear)
            codes.extend(ordered[i:i + 253])
        codes.append(eoi)
        packed = _lzw_pack(codes, lambda _c: 9)
        out.append(0x08)  # LZW minimum code size
        for i in range(0, len(packed), 255):
            chunk = packed[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3B"
    return bytes(out)


def decode_gif_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """Animated GIF -> (screen_w, screen_h, [full-canvas grayscale
    frames]) with real GIF89a compositing (r5): each image rect draws
    onto the logical screen honoring the Graphic Control Extension's
    transparent index, and disposal methods none/keep (0/1),
    restore-to-background (2) and restore-to-previous (3) are applied
    between frames. Palette colors map to gray via the exact integer
    luma, like :func:`decode_gif`."""
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
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = data[pos:pos + 3 * n]
        pos += 3 * n

    def pal_gray(pal: bytes):
        p = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3).astype(
            np.int64)
        return ((299 * p[:, 0] + 587 * p[:, 1] + 114 * p[:, 2]) // 1000
                ).astype(np.uint8)

    bg_gray = int(pal_gray(gct)[bg]) if gct and bg < len(gct) // 3 else 0
    canvas = np.full((sh, sw), bg_gray, dtype=np.uint8)
    frames: list[bytes] = []
    disposal = 0
    transparent = None
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
                disposal = (gflags >> 2) & 7
                transparent = (data[pos + 4] if gflags & 1 else None)
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
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = data[pos:pos + 3 * n]
            pos += 3 * n
        if pal is None:
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
        if iflags & 0x40:  # deinterlace at the INDEX level
            ordered = np.empty_like(idx)
            for file_row, img_row in enumerate(_gif_interlace_order(h)):
                ordered[img_row] = idx[file_row]
            idx = ordered
        grays = pal_gray(pal)
        if int(idx.max(initial=0)) >= len(grays):
            raise ValueError("GIF palette index out of range")
        prev_canvas = canvas.copy() if disposal == 3 else None
        rect = canvas[top:top + h, left:left + w]
        frame_gray = grays[idx]
        if transparent is not None:
            mask = idx != transparent
            rect[mask] = frame_gray[mask]
        else:
            rect[:, :] = frame_gray
        frames.append(canvas.tobytes())
        if disposal == 2:
            canvas[top:top + h, left:left + w] = bg_gray
        elif disposal == 3:
            canvas = prev_canvas
        disposal = 0
        transparent = None
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


def decode_gif(data: bytes) -> tuple[int, int, bytes]:
    """GIF -> (width, height, row-major grayscale pixels) for the FIRST
    image (animations decode fully — with compositing — via
    :func:`decode_gif_frames`). Any LZW stream a conformant
    encoder produces decodes (variable-width codes to 12 bits, interlace
    deinterleaved); palette entries map to gray via the exact integer
    luma (299*r + 587*g + 114*b) / 1000 — identity for gray palettes.
    Malformed / truncated input raises ValueError (the codec error
    contract at the operator seam — never a bare IndexError, review r4)."""
    try:
        return _decode_gif_impl(data)
    except (IndexError, struct.error) as e:
        raise ValueError(f"malformed or truncated GIF stream: {e}") from e


def _decode_gif_impl(data: bytes) -> tuple[int, int, bytes]:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = data[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"bad GIF block 0x{block:02x}")
        _left, _top, w, h, iflags = struct.unpack("<HHHHB", data[pos:pos + 9])
        pos += 9
        pal = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            pal = data[pos:pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image has no color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos]:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode_gif(min_code, bytes(lzw))[:w * h]
        if len(idx) < w * h:
            raise ValueError("GIF pixel data truncated")
        gray = bytes(
            (299 * pal[3 * i] + 587 * pal[3 * i + 1] + 114 * pal[3 * i + 2])
            // 1000
            for i in idx)
        if iflags & 0x40:  # interlaced: rows arrive in pass order
            rows = [None] * h
            for file_row, img_row in enumerate(_gif_interlace_order(h)):
                rows[img_row] = gray[file_row * w:(file_row + 1) * w]
            gray = b"".join(rows)
        return w, h, gray
    raise ValueError("GIF contains no image data")


# ---------------------------------------------------------------------------
# JPEG: pure Python + numpy over the public spec (ITU T.81). Baseline
# sequential (gray + interleaved color) and progressive (SOF2) huffman
# modes, 8-bit precision; DCT tables are the spec's Annex K typical tables
# (progressive AC scans carry their own DHT for the EOBn symbols). Every
# other frame type is behind the NotImplementedError seam.
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

    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bh, bw = (height + 7) // 8, (width + 7) // 8
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]  # edge-replicate pad
    padded[:, width:] = padded[:, width - 1:width]

    q = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    dc_tab = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    zz = _JPEG_ZIGZAG

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

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes(
        _JPEG_QTABLE[zz[i]] for i in range(64)))
    sof = seg(0xC0, struct.pack(">BHHB", 8, height, width, 1)
              + bytes([1, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
                 + bytes(_JPEG_AC_VALS)))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = (seg(0xDD, struct.pack(">H", restart_every))
           if restart_every else b"")
    return (b"\xff\xd8" + dqt + sof + dht + dri + sos + bytes(w.out)
            + b"\xff\xd9")


def encode_jpeg_progressive(width: int, height: int, pixels: bytes,
                            subsampling: str | None = None,
                            cb_pixels: bytes | None = None,
                            cr_pixels: bytes | None = None) -> bytes:
    """Progressive (SOF2) JPEG — T.81 Annex G huffman coding. Grayscale
    by default; pass ``subsampling`` ("4:4:4" / "4:2:0", with optional
    chroma planes at chroma resolution like :func:`encode_jpeg_color`)
    for 3-component YCbCr — the DC scans are then MCU-interleaved across
    components (the multi-component progressive decode path).

    Scan script exercises every progressive decode mode: DC first at Al=1
    then a DC refinement bit; each AC band (1-5, 6-63) encoded by spectral
    selection at Al=2 followed by TWO successive-approximation refinement
    scans (2->1, 1->0) carrying real correction bits and EOBRUN joins;
    AC scans are per-component as the spec requires. Quantized
    coefficients are identical to :func:`encode_jpeg_gray` /
    :func:`encode_jpeg_color`'s, so a progressive stream must decode to
    EXACTLY the same pixels as the baseline encoding of the same image —
    the differential oracle the tests pin."""
    import numpy as np

    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    if subsampling not in (None, "4:4:4", "4:2:2", "4:2:0"):
        raise ValueError(
            "subsampling must be None, '4:4:4', '4:2:2' or '4:2:0'")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    hy, vy = {None: (1, 1), "4:4:4": (1, 1), "4:2:2": (2, 1),
              "4:2:0": (2, 2)}[subsampling]
    tile_w, tile_h = 8 * hy, 8 * vy
    ph = (height + tile_h - 1) // tile_h * tile_h
    pw = (width + tile_w - 1) // tile_w * tile_w
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:, width:] = padded[:, width - 1:width]

    C = _dct_matrix()
    zz = _JPEG_ZIGZAG
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

    def quantize_plane(plane, qmat):
        """plane (8-multiple dims) -> {(by, bx): zigzag seq}."""
        out = {}
        for by in range(plane.shape[0] // 8):
            for bx in range(plane.shape[1] // 8):
                block = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                quant = np.round((C @ block @ C.T) / qmat).astype(np.int64)
                flat = quant.reshape(-1)
                out[(by, bx)] = [int(flat[zz[i]]) for i in range(64)]
        return out

    qy = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    if subsampling is None:
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0,
                  "blocks": quantize_plane(padded, qy),
                  "nbx": (width + 7) // 8, "nby": (height + 7) // 8}]
    else:
        qc = np.array(_JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
        cw, chh = -(-width // hy), -(-height // vy)
        cpw, cph = pw // hy, ph // vy

        def chroma_plane(pix, name):
            if pix is None:
                return np.full((cph, cpw), 128.0)
            if len(pix) != cw * chh:
                raise ValueError(
                    f"{name} must be {cw}*{chh} bytes at {subsampling}")
            c = np.frombuffer(pix, dtype=np.uint8).reshape(chh, cw)
            out = np.empty((cph, cpw), dtype=np.float64)
            out[:chh, :cw] = c
            out[chh:, :cw] = c[-1:, :]
            out[:, cw:] = out[:, cw - 1:cw]
            return out

        comps = [
            {"id": 1, "h": hy, "v": vy, "tq": 0,
             "blocks": quantize_plane(padded, qy),
             "nbx": (width + 7) // 8, "nby": (height + 7) // 8},
            {"id": 2, "h": 1, "v": 1, "tq": 1,
             "blocks": quantize_plane(chroma_plane(cb_pixels, "cb_pixels"),
                                      qc),
             "nbx": -(-cw // 8), "nby": -(-chh // 8)},
            {"id": 3, "h": 1, "v": 1, "tq": 1,
             "blocks": quantize_plane(chroma_plane(cr_pixels, "cr_pixels"),
                                      qc),
             "nbx": -(-cw // 8), "nby": -(-chh // 8)},
        ]
    mcus_x, mcus_y = pw // tile_w, ph // tile_h

    def dc_units():
        """(comp_id, seq) in decode order: MCU-interleaved when ns > 1,
        else the single component's full padded block grid raster."""
        if len(comps) == 1:
            c = comps[0]
            for by in range(c["nby"]):
                for bx in range(c["nbx"]):
                    yield c["id"], c["blocks"][(by, bx)]
            return
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for c in comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            yield c["id"], c["blocks"][
                                (my * c["v"] + by, mx * c["h"] + bx)]

    def ac_units(comp):
        """Non-interleaved AC scan order: the component's REAL block grid
        (ceil(comp_samples/8)), raster order — padding blocks that exist
        only to complete an MCU are not coded in AC scans."""
        for by in range(comp["nby"]):
            for bx in range(comp["nbx"]):
                yield comp["blocks"][(by, bx)]

    def dc_first(w, al):
        preds = {c["id"]: 0 for c in comps}
        for cid, seq in dc_units():
            t = seq[0] >> al  # arithmetic shift = the DC point transform
            size, bits = _magnitude(t - preds[cid])
            preds[cid] = t
            code, length = dc_tab[size]
            w.write(code, length)
            if size:
                w.write(bits, size)

    def dc_refine(w, al):
        for _cid, seq in dc_units():
            w.write((seq[0] >> al) & 1, 1)

    def ac_first(w, seqs, ss, se, al):
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

    def ac_refine(w, seqs, ss, se, al):
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

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE[zz[i]]
                                           for i in range(64)))
    if subsampling:
        out += seg(0xDB, bytes([0x01]) + bytes(_JPEG_QTABLE_CHROMA[zz[i]]
                                               for i in range(64)))
    sof_comps = b"".join(
        bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]]) for c in comps)
    out += seg(0xC2, struct.pack(">BHHB", 8, height, width, len(comps))
               + sof_comps)
    out += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(prog_ac_bits)
               + bytes(prog_ac_vals))

    # scan script: one interleaved DC pair; per-component AC band scans
    # with two successive-approximation refinements each
    script = [("dc_first", None, 0, 0, 0, 1)]
    for c in comps:
        script += [("ac_first", c, 1, 5, 0, 2),
                   ("ac_first", c, 6, 63, 0, 2)]
    for c in comps:
        script += [("ac_refine", c, 1, 5, 2, 1),
                   ("ac_refine", c, 6, 63, 2, 1),
                   ("ac_refine", c, 1, 5, 1, 0),
                   ("ac_refine", c, 6, 63, 1, 0)]
    script += [("dc_refine", None, 0, 0, 1, 0)]

    for kind, comp, ss, se, ah, al in script:
        w = _BitWriter()
        if kind == "dc_first":
            dc_first(w, al)
        elif kind == "dc_refine":
            dc_refine(w, al)
        elif kind == "ac_first":
            ac_first(w, list(ac_units(comp)), ss, se, al)
        else:
            ac_refine(w, list(ac_units(comp)), ss, se, al)
        w.flush()
        if kind.startswith("dc"):
            hdr = bytes([len(comps)]) + b"".join(
                bytes([c["id"], 0x00]) for c in comps)
        else:
            hdr = bytes([1, comp["id"], 0x00])
        out += seg(0xDA, hdr + bytes([ss, se, (ah << 4) | al]))
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
    import numpy as np

    C = _dct_matrix()
    coef = C @ block @ C.T
    quant = np.round(coef / qmat).astype(np.int64)
    flat = quant.reshape(-1)
    zz = _JPEG_ZIGZAG
    seq = [int(flat[zz[i]]) for i in range(64)]
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
                      cr_pixels: bytes | None = None,
                      interleave: bool = True) -> bytes:
    """Baseline sequential COLOR (YCbCr, 3-component interleaved) JPEG.

    Y carries ``y_pixels``; ``cb_pixels``/``cr_pixels`` (r5) are optional
    chroma planes AT CHROMA RESOLUTION — ceil(width/hy) x ceil(height/vy)
    row-major bytes — padded internally by edge replication like luma.
    Omitted chroma defaults to neutral 128 (zero after level shift — every
    chroma block DC-0 + EOB). This is a genuinely 3-component stream
    (SOF/SOS/MCU layout, two quant tables, chroma huffman ids) exercising
    the decoder's color path; ``subsampling`` is ``"4:4:4"`` (Y 1x1),
    ``"4:2:2"`` (Y 2x1, chroma half-res horizontally, r5) or ``"4:2:0"``
    (Y 2x2, chroma quarter-res). ``interleave=False`` (r6) emits THREE
    single-component scans instead of one MCU-interleaved scan — each
    component's blocks in raster order over its OWN grid, DC predictor
    reset per scan (T.81 B.2.3 non-interleaved order) — and must decode
    identically."""
    import numpy as np

    if len(y_pixels) != width * height:
        raise ValueError("y_pixels must be width*height bytes")
    try:
        hy, vy = {"4:4:4": (1, 1), "4:2:2": (2, 1),
                  "4:2:0": (2, 2)}[subsampling]
    except KeyError:
        raise ValueError(
            "subsampling must be '4:4:4', '4:2:2' or '4:2:0'") from None
    img = np.frombuffer(y_pixels, dtype=np.uint8).reshape(height, width)
    tile_w, tile_h = 8 * hy, 8 * vy
    ph = (height + tile_h - 1) // tile_h * tile_h
    pw = (width + tile_w - 1) // tile_w * tile_w
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:, width:] = padded[:, width - 1:width]

    cw, chh = -(-width // hy), -(-height // vy)  # chroma extent (ceil)
    cpw, cph = pw // hy, ph // vy                # padded chroma plane

    def chroma_plane(pix: bytes | None, name: str):
        if pix is None:
            return np.full((cph, cpw), 128.0)
        if len(pix) != cw * chh:
            raise ValueError(
                f"{name} must be ceil(width/{hy}) * ceil(height/{vy}) "
                f"= {cw}*{chh} bytes at {subsampling}")
        c = np.frombuffer(pix, dtype=np.uint8).reshape(chh, cw)
        out = np.empty((cph, cpw), dtype=np.float64)
        out[:chh, :cw] = c
        out[chh:, :cw] = c[-1:, :]
        out[:, cw:] = out[:, cw - 1:cw]
        return out

    cb_plane = chroma_plane(cb_pixels, "cb_pixels")
    cr_plane = chroma_plane(cr_pixels, "cr_pixels")

    zz = _JPEG_ZIGZAG
    qy = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(_JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    dc_tab = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    if interleave:
        w = _BitWriter()
        prev = {"y": 0, "cb": 0, "cr": 0}
        for my in range(ph // tile_h):
            for mx in range(pw // tile_w):
                for by in range(vy):
                    for bx in range(hy):
                        r0 = my * tile_h + by * 8
                        c0 = mx * tile_w + bx * 8
                        prev["y"] = _encode_block(
                            w, padded[r0:r0 + 8, c0:c0 + 8] - 128.0,
                            qy, dc_tab, ac_tab, prev["y"])
                cr0, cc0 = my * 8, mx * 8
                prev["cb"] = _encode_block(
                    w, cb_plane[cr0:cr0 + 8, cc0:cc0 + 8] - 128.0,
                    qc, dc_tab, ac_tab, prev["cb"])
                prev["cr"] = _encode_block(
                    w, cr_plane[cr0:cr0 + 8, cc0:cc0 + 8] - 128.0,
                    qc, dc_tab, ac_tab, prev["cr"])
        w.flush()
    else:
        # three non-interleaved scans: each component's own block grid
        # (ceil(extent/8) per axis — NOT the MCU-padded grid), fresh DC
        # predictor per scan
        scan_parts = []
        grids = ((1, 0x00, padded, qy, -(-width // 8), -(-height // 8)),
                 (2, 0x11, cb_plane, qc, -(-cw // 8), -(-chh // 8)),
                 (3, 0x11, cr_plane, qc, -(-cw // 8), -(-chh // 8)))
        for cid, tt, plane, q, nbx, nby in grids:
            wters = _BitWriter()
            prev_dc = 0
            for by in range(nby):
                for bx in range(nbx):
                    prev_dc = _encode_block(
                        wters,
                        plane[by * 8:(by + 1) * 8,
                              bx * 8:(bx + 1) * 8] - 128.0,
                        q, dc_tab, ac_tab, prev_dc)
            wters.flush()
            scan_parts.append((cid, tt, bytes(wters.out)))

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = (seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE[zz[i]]
                                           for i in range(64)))
           + seg(0xDB, bytes([0x01]) + bytes(_JPEG_QTABLE_CHROMA[zz[i]]
                                             for i in range(64))))
    hv_y = (hy << 4) | vy
    sof = seg(0xC0, struct.pack(">BHHB", 8, height, width, 3)
              + bytes([1, hv_y, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = b"".join(
        seg(0xC4, bytes([cls_id]) + bytes(bits) + bytes(vals))
        for cls_id, bits, vals in (
            (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
            (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
            (0x01, _JPEG_DC_BITS, _JPEG_DC_VALS),
            (0x11, _JPEG_AC_BITS, _JPEG_AC_VALS),
        ))
    if interleave:
        scans_out = (seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11,
                                      0, 63, 0]))
                     + bytes(w.out))
    else:
        scans_out = b"".join(
            seg(0xDA, bytes([1, cid, tt, 0, 63, 0])) + ecs
            for cid, tt, ecs in scan_parts)
    return b"\xff\xd8" + dqt + sof + dht + scans_out + b"\xff\xd9"


class _BitReader:
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
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker (EOI / RSTn handled by caller): treat as end
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    self.synthetic += 8
                    continue
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


def decode_jpeg_gray(data: bytes) -> tuple[int, int, bytes]:
    """Baseline sequential JPEG -> (width, height, LUMA pixels).

    Parses DQT/SOF/DHT/SOS/DRI from the stream (any conformant file, not
    just our encoder's — 0xFF fill bytes per T.81 B.1.1.2 included),
    huffman-decodes, dequantizes, inverse-DCTs with numpy. Handles
    baseline (SOF0), extended sequential (SOF1, r6) and progressive
    (SOF2, r5) 8-bit streams, grayscale AND interleaved multi-component
    color (ANY sampling-factor layout — 4:4:4, 4:2:0, 4:2:2, ...,
    including subsampled-LUMA streams, whose reduced Y plane
    nearest-upsamples like any other component, r6); the output is the
    LUMA plane (Y is BT.601 luma directly — chroma components are
    decoded to keep the stream in sync and discarded; non-interleaved
    multi-scan streams decode too, r6). Other frame types, precisions
    and >3-component frames raise NotImplementedError; malformed /
    truncated input raises ValueError."""
    import numpy as np

    try:
        width, height, comps, planes, hmax, vmax = _decode_jpeg_planes(
            data, render_all=False)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed or truncated JPEG stream: {e}") from e
    # nearest-upsample if the luma itself is subsampled (r6)
    y = _upsample_plane(planes[comps[0]["id"]], comps[0], hmax, vmax,
                        width, height)
    pix = np.clip(np.round(y), 0, 255).astype(np.uint8)
    return width, height, pix.tobytes()


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Baseline sequential JPEG -> (width, height, n_channels, pixels).

    1-component streams return the gray plane (n_channels=1); 3-component
    YCbCr streams return interleaved RGB (n_channels=3): every component
    plane is dequantized/IDCT'd, subsampled planes — luma included, r6 —
    are nearest-upsampled to full resolution (T.81 leaves the filter to
    the decoder; nearest is the analytically-predictable choice the
    oracles use), then converted per the JFIF YCbCr<->RGB matrix with
    floor(x+0.5) rounding and [0,255] clamping. Same frame types as
    :func:`decode_jpeg_gray`; 2-component streams raise
    NotImplementedError, malformed input ValueError."""
    import numpy as np

    try:
        width, height, comps, planes, hmax, vmax = _decode_jpeg_planes(
            data, render_all=True)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed or truncated JPEG stream: {e}") from e
    if len(comps) == 1:
        y = planes[comps[0]["id"]]
        pix = np.clip(np.round(y[:height, :width]), 0, 255).astype(np.uint8)
        return width, height, 1, pix.tobytes()
    if len(comps) != 3:
        raise NotImplementedError(
            f"{len(comps)}-component JPEG ({len(comps)}-channel layouts "
            "have no defined color interpretation — PIL's seam)")
    y, cb, cr = (_upsample_plane(planes[c["id"]], c, hmax, vmax,
                                 width, height) for c in comps)
    rgb = _ycbcr_to_rgb(y, cb, cr)
    return width, height, 3, rgb.tobytes()


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


def _decode_jpeg_planes(data: bytes, render_all: bool):
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[dict] = []  # {id, h, v, tq} in SOF order
    scans: list[dict] = []
    restart_interval = 0
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
            # id-agnostic already); progressive SOF2 has its own scan
            # loop — spectral selection + successive approximation (r5)
            height, width, comps = _parse_sof(body)
            if marker == 0xC2:
                return _decode_progressive(data, render_all)
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
            # sequential scans: interleaved (ns > 1, MCU order over the
            # scan's components) or non-interleaved (ns == 1, raster
            # over that component's own block grid) — multi-scan
            # streams walk on to the next SOS (r6)
            ns = body[0]
            by_id = {c["id"]: c for c in comps}
            scomps = []
            for c in range(ns):
                cid = body[1 + 2 * c]
                tt = body[2 + 2 * c]
                scomps.append((by_id[cid], huff[(0, tt >> 4)],
                               huff[(1, tt & 0x0F)]))
            end = _scan_entropy_end(data, pos)
            scans.append({"comps": scomps, "ecs": data[pos:end],
                          "dri": restart_interval})
            pos = end
    if width is None or not scans:
        raise ValueError("truncated JPEG (no SOF/SOS)")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    # any component may be subsampled, INCLUDING luma (r6): the public
    # decode surface routes every plane through _upsample_plane

    C = _dct_matrix()
    zz = _JPEG_ZIGZAG
    qmats: dict[int, "np.ndarray"] = {}
    for tq, vals in qtables.items():
        flatq = np.empty(64)
        for i in range(64):
            flatq[zz[i]] = vals[i]
        qmats[tq] = flatq.reshape(8, 8)

    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    n_mcus = mcus_x * mcus_y
    for c in comps:
        # non-interleaved scans cover the component's OWN block grid
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        c["nbx"] = -(-cw // 8)
        c["nby"] = -(-ch // 8)
    # render_all materializes every component's plane (color output);
    # otherwise only luma — other components' blocks are still
    # entropy-decoded to stay in sync, just not reconstructed. zeros,
    # not empty: non-interleaved scans leave MCU padding untouched.
    render = comps if render_all else comps[:1]
    planes = {
        c["id"]: np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8),
                          dtype=np.float64)
        for c in render
    }

    def read_block(reader, dc_tab, ac_tab, prev_dc):
        size = _read_huff(reader, dc_tab)
        dc = prev_dc + _extend(reader.read_bits(size), size)
        seq = [0] * 64
        seq[0] = dc
        k = 1
        while k < 64:
            rs = _read_huff(reader, ac_tab)
            run, sz = rs >> 4, rs & 0x0F
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("AC index overrun")
            seq[k] = _extend(reader.read_bits(sz), sz)
            k += 1
        return dc, seq

    def put_block(comp, seq, by, bx):
        plane = planes.get(comp["id"])
        if plane is None:
            return  # sync-decoded, not rendered
        flat = np.zeros(64)
        for i2 in range(64):
            flat[zz[i2]] = seq[i2]
        coef = flat.reshape(8, 8) * qmats[comp["tq"]]
        block = C.T @ coef @ C + 128.0
        plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = block

    for scan in scans:
        scomps = scan["comps"]
        dri = scan["dri"]
        intervals = _split_restart_intervals(scan["ecs"])
        if len(intervals) > 1 and dri == 0:
            raise ValueError("restart markers present but no DRI segment")
        interleaved = len(scomps) > 1
        if not interleaved and planes.get(scomps[0][0]["id"]) is None:
            # unrendered component with its own scan: nothing downstream
            # consumes these blocks and scan boundaries are already
            # known, so skip the entropy decode entirely (review r6 —
            # the "decode to stay in sync" rule only binds interleaved
            # scans)
            continue
        units = (n_mcus if interleaved
                 else scomps[0][0]["nbx"] * scomps[0][0]["nby"])
        done = 0
        for ci, chunk in enumerate(intervals):
            reader = _BitReader(chunk)
            prev_dc = {c[0]["id"]: 0 for c in scomps}
            in_chunk = (dri if dri and ci < len(intervals) - 1
                        else units - done)
            for _ in range(in_chunk):
                if done >= units:
                    break
                if interleaved:
                    my, mx = divmod(done, mcus_x)
                    for comp, dc_tab, ac_tab in scomps:
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                prev_dc[comp["id"]], seq = read_block(
                                    reader, dc_tab, ac_tab,
                                    prev_dc[comp["id"]])
                                put_block(comp, seq,
                                          my * comp["v"] + by,
                                          mx * comp["h"] + bx)
                else:
                    comp, dc_tab, ac_tab = scomps[0]
                    by, bx = divmod(done, comp["nbx"])
                    prev_dc[comp["id"]], seq = read_block(
                        reader, dc_tab, ac_tab, prev_dc[comp["id"]])
                    put_block(comp, seq, by, bx)
                done += 1
                # strict truncation contract (ADVICE r4): an MCU that
                # needed even one zero-fill bit past end-of-stream
                # decoded fabricated coefficients — fail loudly instead
                # of emitting silently wrong pixels in the tail blocks
                if reader.consumed_synthetic():
                    raise ValueError(
                        "JPEG entropy data truncated (stream ended "
                        "mid-MCU)")
        if done < units:
            raise ValueError("JPEG entropy data truncated")
    return width, height, comps, planes, hmax, vmax


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


def _decode_progressive(data: bytes, render_all: bool):
    """Progressive (SOF2) JPEG: spectral-selection + successive-
    approximation scan decode per ITU T.81 G.2 (huffman coding), then the
    same dequant/IDCT as baseline. Returns the ``_decode_jpeg_planes``
    tuple. Implements DC first/refine (interleaved or single-component)
    and AC first/refine (single-component, EOBRUN semantics, ZRL,
    correction bits); restart intervals reset predictors and EOBRUN.
    Same strict truncation contract as baseline: a band pass that consumed
    zero-fill bits past end-of-stream raises."""
    import numpy as np

    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[dict] = []
    restart_interval = 0
    scans: list[dict] = []
    pos = 2
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
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
        elif marker == 0xC2:
            height, width, comps = _parse_sof(body)
        elif marker == 0xC4:
            _parse_dht_body(body, huff)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            by_id = {c["id"]: c for c in comps}
            scomps = []
            for c in range(ns):
                cid = body[1 + 2 * c]
                tt = body[2 + 2 * c]
                scomps.append((by_id[cid], huff.get((0, tt >> 4)),
                               huff.get((1, tt & 0x0F))))
            ss, se, a = body[1 + 2 * ns:4 + 2 * ns]
            end = _scan_entropy_end(data, pos)
            scans.append({"comps": scomps, "ss": ss, "se": se,
                          "ah": a >> 4, "al": a & 0x0F,
                          "ecs": data[pos:end],
                          "dri": restart_interval})
            pos = end
    if width is None or not scans:
        raise ValueError("truncated JPEG (no SOF/SOS)")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    # any component may be subsampled, INCLUDING luma (r6): the public
    # decode surface routes every plane through _upsample_plane
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    zz = _JPEG_ZIGZAG
    for c in comps:
        # full MCU-covering block grid (interleaved DC scans touch padding
        # blocks); non-interleaved scans only iterate the real grid below
        c["coef"] = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                             dtype=np.int32)
        cw = -(-width * c["h"] // hmax)   # ceil(width * h / hmax)
        ch = -(-height * c["v"] // vmax)
        c["nbx"] = -(-cw // 8)
        c["nby"] = -(-ch // 8)

    for scan in scans:
        scomps = scan["comps"]
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        intervals = _split_restart_intervals(scan["ecs"])
        dri = scan["dri"]
        if len(intervals) > 1 and dri == 0:
            raise ValueError("restart markers present but no DRI segment")
        # the SOS header names tables the scan may never use (huff.get
        # above keeps those None), but a table the scan DOES need missing
        # its DHT is malformed input -> ValueError, not a TypeError later
        if ss == 0 and ah == 0 and any(dc is None for _, dc, _ in scomps):
            raise ValueError("DC scan references an undefined huffman "
                             "table (missing DHT)")
        if ss != 0 and scomps[0][2] is None:
            raise ValueError("AC scan references an undefined huffman "
                             "table (missing DHT)")

        if ss == 0:  # DC scan (may be interleaved)
            if se != 0:
                raise ValueError("DC scan with Se != 0")
            if len(scomps) > 1:
                units = mcus_x * mcus_y  # MCUs
            else:
                comp = scomps[0][0]
                units = comp["nbx"] * comp["nby"]
        else:  # AC scan: T.81 G.1.1.1 — single component only
            if len(scomps) != 1:
                raise ValueError("interleaved AC scan in progressive JPEG")
            comp = scomps[0][0]
            units = comp["nbx"] * comp["nby"]

        done = 0
        for ci, chunk in enumerate(intervals):
            reader = _BitReader(chunk)
            preds = {c[0]["id"]: 0 for c in scomps}
            eobrun = 0
            in_chunk = (dri if dri and ci < len(intervals) - 1
                        else units - done)
            for _ in range(in_chunk):
                if done >= units:
                    break
                if ss == 0 and len(scomps) > 1:
                    my, mx = divmod(done, mcus_x)
                    for comp, dc_tab, _ac in scomps:
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                blk = comp["coef"][my * comp["v"] + by,
                                                   mx * comp["h"] + bx]
                                preds[comp["id"]] = _dc_pass(
                                    reader, dc_tab, blk, ah, al,
                                    preds[comp["id"]])
                else:
                    comp, dc_tab, ac_tab = scomps[0]
                    by, bx = divmod(done, comp["nbx"])
                    blk = comp["coef"][by, bx]
                    if ss == 0:
                        preds[comp["id"]] = _dc_pass(
                            reader, dc_tab, blk, ah, al, preds[comp["id"]])
                    elif ah == 0:
                        eobrun = _ac_first_pass(
                            reader, ac_tab, blk, ss, se, al, eobrun, zz)
                    else:
                        eobrun = _ac_refine_pass(
                            reader, ac_tab, blk, ss, se, al, eobrun, zz)
                done += 1
                if reader.consumed_synthetic():
                    raise ValueError(
                        "JPEG entropy data truncated (progressive scan "
                        "ended mid-band)")
        if done < units:
            raise ValueError("JPEG entropy data truncated")

    # dequant + IDCT every rendered component in one vectorized pass
    C = _dct_matrix()
    qnat: dict[int, np.ndarray] = {}
    for tq, vals in qtables.items():
        flatq = np.empty(64)
        for i in range(64):
            flatq[zz[i]] = vals[i]
        qnat[tq] = flatq
    render = comps if render_all else comps[:1]
    planes = {}
    for c in render:
        coefs = c["coef"].astype(np.float64) * qnat[c["tq"]]
        nby, nbx = coefs.shape[0], coefs.shape[1]
        blocks = coefs.reshape(nby, nbx, 8, 8)
        px = np.einsum("ji,yxjk,kl->yxil", C, blocks, C) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        planes[c["id"]] = plane
    return width, height, comps, planes, hmax, vmax


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
# MJPEG-in-AVI video container: pure struct over the public RIFF/AVI spec.
# Frames are baseline JPEGs (encode_jpeg_gray / decode_jpeg_gray above), so
# a video column decodes end-to-end with zero external libraries. Other
# codecs (fourcc != MJPG) raise NotImplementedError — the video seam.
# ---------------------------------------------------------------------------

_AVI_FPS = 10  # frame rate the AVI encoders write (no decoder reads it)


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int) -> bytes:
    """Minimal single-stream MJPEG AVI: RIFF(AVI ) / LIST(hdrl)(avih +
    LIST(strl)(strh vids/MJPG + strf BITMAPINFOHEADER)) / LIST(movi) with
    one 00dc chunk per JPEG frame."""
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
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, _AVI_FPS, 0,
                          len(frames), max_bytes, 0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
                       width * height * 3, 0, 0, 0, 0)
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih) + list_chunk(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = list_chunk(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    # idx1 backs the AVIF_HASINDEX flag set in avih (review r4: the flag
    # without the chunk breaks strict external parsers); offsets are
    # relative to the 'movi' fourcc per the classic convention
    entries = bytearray()
    off = 4
    for f in frames:
        entries += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    idx1 = chunk(b"idx1", bytes(entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_avi_raw(frames_gray: list[bytes], width: int, height: int) -> bytes:
    """Minimal single-stream UNCOMPRESSED AVI (handler 'DIB ',
    biCompression=0): each frame is a classic bottom-up 24-bit BGR DIB
    with rows padded to 4 bytes.  ``frames_gray`` supplies width*height
    grayscale bytes per frame (replicated into B=G=R)."""
    if not frames_gray:
        raise ValueError("need at least one frame")
    import numpy as np

    stride = (width * 3 + 3) & ~3
    dibs = []
    for g in frames_gray:
        if len(g) != width * height:
            raise ValueError("each frame must be width*height bytes")
        a = np.frombuffer(g, dtype=np.uint8).reshape(height, width)
        rows = np.zeros((height, stride), dtype=np.uint8)
        rgb = np.repeat(a[::-1, :, None], 3, axis=2)  # bottom-up, B=G=R
        rows[:, :width * 3] = rgb.reshape(height, width * 3)
        dibs.append(rows.tobytes())

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def list_chunk(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    max_bytes = stride * height
    avih = struct.pack(
        "<14I", 1_000_000 // _AVI_FPS, max_bytes * _AVI_FPS, 0, 0x10,
        len(dibs), 0, 1, max_bytes, width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB "
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, _AVI_FPS, 0,
                          len(dibs), max_bytes, 0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, width, height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       max_bytes, 0, 0, 0, 0)
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih) + list_chunk(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = list_chunk(b"movi", b"".join(chunk(b"00db", f) for f in dibs))
    entries = bytearray()
    off = 4
    for f in dibs:
        entries += b"00db" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    idx1 = chunk(b"idx1", bytes(entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_bmp(width: int, height: int, pixels: bytes,
               mode: str = "bgr24") -> bytes:
    """Grayscale-input BMP encoder (r6 — the analytic-oracle path):
    ``pixels`` is width*height gray bytes and the decoded RGB sum is
    exactly 3x the gray sum in every mode. ``mode``: ``"bgr24"``
    (bottom-up B=G=R, stride-padded), ``"pal8"`` (8-bit palettized
    through an identity-gray BGRX table), ``"rle8"`` (BI_RLE8 row runs
    over the identity palette) or ``"bf32"`` (BI_BITFIELDS 32-bit with
    the classic 0xFF0000/0xFF00/0xFF masks)."""
    import numpy as np

    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    pal = b"".join(bytes([k, k, k, 0]) for k in range(256))
    masks = b""
    if mode == "bgr24":
        stride = (width * 3 + 3) & ~3
        rows = np.zeros((height, stride), dtype=np.uint8)
        rows[:, :width * 3] = np.repeat(
            img[::-1, :, None], 3, axis=2).reshape(height, width * 3)
        body, bits, comp, table = rows.tobytes(), 24, 0, b""
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
        g = img[::-1]
        rows[:, :, 0] = g  # B
        rows[:, :, 1] = g  # G
        rows[:, :, 2] = g  # R
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
    """BMP file -> (width, height, n_channels, pixels).

    BITMAPINFOHEADER bitmaps: 24-bit BGR -> interleaved RGB (nch=3),
    8-bit palettized -> RGB through the BGRX color table, 32-bit BGRX ->
    RGB (the X byte is dropped, nch=3), and (r6) sub-byte palettized
    depths 1/4-bit (MSB-first packing) plus BI_RLE8/BI_RLE4 run-length
    compression (run pairs, absolute mode with word alignment, EOL/EOB/
    delta escapes; skipped pixels read as palette index 0). Rows are
    4-byte aligned; positive biHeight is bottom-up, negative top-down
    (top-down is invalid for RLE per the format and raises ValueError).
    BI_BITFIELDS 16/32-bit decodes through the per-channel masks (r6),
    and BI_JPEG / BI_PNG (r6) hand the embedded stream to the native
    JPEG / PNG decoders (the printer-passthrough forms; the embedded
    codec's own dimensions and orientation win)."""
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
    if comp in (4, 5):  # BI_JPEG / BI_PNG (r6): embedded stream
        (size_image,) = struct.unpack("<I", data[34:38])
        blob = data[off_bits:off_bits + size_image if size_image
                    else len(data)]
        return decode_jpeg(blob) if comp == 4 else decode_png_ex(blob)
    if comp not in (0, 1, 2, 3):
        raise NotImplementedError(f"BMP compression {comp} needs PIL")
    if comp == 1 and bits != 8:
        raise ValueError("BI_RLE8 requires 8-bit depth")
    if comp == 2 and bits != 4:
        raise ValueError("BI_RLE4 requires 4-bit depth")
    if comp == 3 and bits not in (16, 32):
        raise ValueError("BI_BITFIELDS requires 16/32-bit depth")
    if bits not in (1, 4, 8, 24, 32) and comp != 3:
        raise NotImplementedError(f"{bits}-bit BMP needs PIL")
    top_down = height_s < 0
    height = abs(height_s)
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")

    def palette(n_default):
        n = n_colors or n_default
        table = np.frombuffer(
            data[14 + hdr_size:14 + hdr_size + 4 * n],
            dtype=np.uint8).reshape(-1, 4)
        if table.shape[0] < n:
            raise ValueError("BMP color table truncated")
        return table

    def idx_to_rgb(idx, table):
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise ValueError("BMP palette index out of range")
        rgb = table[idx][:, :, [2, 1, 0]]  # BGRX -> RGB
        return width, height, 3, np.ascontiguousarray(rgb).tobytes()

    if comp == 3:  # BI_BITFIELDS (r6): per-channel masks after the header
        rmask, gmask, bmask = struct.unpack("<III", data[54:66])
        word = 2 if bits == 16 else 4
        stride = (width * word + 3) & ~3
        px = data[off_bits:off_bits + stride * height]
        if len(px) < stride * height:
            raise ValueError("BMP pixel data truncated")
        rows = np.frombuffer(px, dtype=np.uint8).reshape(height, stride)
        vals = rows[:, :width * word].reshape(height, width, word)
        v = vals[:, :, 0].astype(np.uint32)
        for k in range(1, word):
            v |= vals[:, :, k].astype(np.uint32) << (8 * k)
        chans = []
        for mask in (rmask, gmask, bmask):
            if mask == 0:
                raise ValueError("BI_BITFIELDS zero channel mask")
            shift = (mask & -mask).bit_length() - 1
            top = mask >> shift
            # scale the n-bit channel to 8 bits (255 * x / max)
            chans.append(((v & np.uint32(mask)) >> shift)
                         * 255 // np.uint32(top))
        rgb = np.stack(chans, axis=-1).astype(np.uint8)
        if not top_down:
            rgb = rgb[::-1]
        return width, height, 3, np.ascontiguousarray(rgb).tobytes()

    if comp:  # BI_RLE8 / BI_RLE4
        if top_down:
            raise ValueError("top-down RLE BMP is invalid")
        idx = _decode_bmp_rle(data[off_bits:], width, height, bits)
        return idx_to_rgb(idx[::-1], palette(1 << bits))

    if bits in (1, 4):
        stride = ((width * bits + 31) // 32) * 4
        px = data[off_bits:off_bits + stride * height]
        if len(px) < stride * height:
            raise ValueError("BMP pixel data truncated")
        rows = np.frombuffer(px, dtype=np.uint8).reshape(height, stride)
        unpacked = np.unpackbits(rows, axis=1)  # MSB-first
        if bits == 1:
            idx = unpacked[:, :width]
        else:
            nib = unpacked.reshape(height, -1, 4)
            idx = (nib[:, :, 0] * 8 + nib[:, :, 1] * 4
                   + nib[:, :, 2] * 2 + nib[:, :, 3])[:, :width]
        if not top_down:
            idx = idx[::-1]
        return idx_to_rgb(idx.astype(np.uint8), palette(1 << bits))

    bpp = bits // 8
    stride = (width * bpp + 3) & ~3
    px = data[off_bits:off_bits + stride * height]
    if len(px) < stride * height:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(px, dtype=np.uint8).reshape(height, stride)
    body = rows[:, :width * bpp].reshape(height, width, bpp)
    if not top_down:
        body = body[::-1]
    if bits == 8:
        return idx_to_rgb(body[:, :, 0], palette(256))
    rgb = body[:, :, [2, 1, 0]]  # BGR(X) -> RGB, X dropped
    return width, height, 3, np.ascontiguousarray(rgb).tobytes()


def _decode_bmp_rle(blob: bytes, width: int, height: int,
                    bits: int) -> "np.ndarray":
    """BI_RLE8 / BI_RLE4 stream -> (height, width) palette-index raster
    in STORED (bottom-up) row order. Escapes: 00 00 = end of line,
    00 01 = end of bitmap, 00 02 dx dy = position delta; 00 n (n>=3) =
    absolute mode (n literal indices, data padded to a word boundary);
    c v (c>0) = run of c indices (RLE4 alternates v's two nibbles).
    Pixels never written stay 0."""
    import numpy as np

    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(blob)
    while i + 1 < n:
        c, v = blob[i], blob[i + 1]
        i += 2
        if c:  # encoded run
            if bits == 8:
                vals = [v] * c
            else:
                vals = [(v >> 4, v & 0x0F)[k & 1] for k in range(c)]
            for val in vals:
                if y < height and x < width:
                    out[y, x] = val
                x += 1
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
        else:  # absolute mode: v literal indices
            nbytes = v if bits == 8 else (v + 1) // 2
            nbytes += nbytes & 1  # word aligned
            if i + nbytes > n:
                raise ValueError("BMP RLE absolute run truncated")
            chunk = blob[i:i + nbytes]
            i += nbytes
            for k in range(v):
                val = (chunk[k] if bits == 8
                       else (chunk[k // 2] >> 4 if k % 2 == 0
                             else chunk[k // 2] & 0x0F))
                if y < height and x < width:
                    out[y, x] = val
                x += 1
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


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """16-bit PCM mono WAV from an int iterable (clamped to int16)."""
    import numpy as np

    body = np.clip(np.asarray(list(samples), dtype=np.int64),
                   -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    riff = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def encode_wav_pcm24(samples, channels: int = 1) -> bytes:
    """24-bit packed little-endian PCM WAV (format 1) at 8000 Hz;
    ``samples`` is channel-interleaved ints clamped to the 24-bit signed
    range."""
    import numpy as np

    s = np.clip(np.asarray(list(samples), dtype=np.int64),
                -(1 << 23), (1 << 23) - 1).astype("<i4")
    raw = s.tobytes()
    body = b"".join(raw[i:i + 3] for i in range(0, len(raw), 4))
    ba = 3 * channels
    fmt = struct.pack("<HHIIHH", 1, channels, 8000, 8000 * ba, ba, 24)
    riff = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_wav(data: bytes) -> tuple[int, list]:
    """WAV -> (sample_rate, channel-interleaved samples).

    Supported (r2 mono PCM16; widened r5/r6): integer PCM (format 1) at
    8 bits (unsigned, returned re-centred to signed -128..127), 16 bits
    (signed) or 24 bits packed (r6, returned as full-range ints) and
    IEEE float32 (format 3, returned as Python floats), at any channel
    count 1-32 (r6 — 5.1/7.1 beds and ambisonics included). Anything
    else — G.711, ADPCM, GSM, MP3-in-WAV — raises NotImplementedError
    (the soundfile/torchaudio seam)."""
    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    rate = None
    afmt = bits = None
    samples: list = []
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + length]
        pos += 8 + length + (length & 1)
        if tag == b"fmt ":
            afmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16])
            supported = 1 <= channels <= 32 and (
                (afmt == 1 and bits in (8, 16, 24))
                or (afmt == 3 and bits == 32))
            if not supported:
                raise NotImplementedError(
                    f"decode_wav supports integer PCM 8/16/24-bit and IEEE "
                    f"float32 at 1-32 channels (got fmt={afmt}, "
                    f"ch={channels}, bits={bits}) — G.711/ADPCM/GSM/"
                    "MP3-in-WAV is the soundfile/torchaudio seam")
        elif tag == b"data":
            if afmt is None:
                raise ValueError("data chunk before fmt chunk")
            if afmt == 3:
                samples = np.frombuffer(
                    body[:len(body) & ~3], dtype="<f4").tolist()
            elif bits == 8:
                samples = (np.frombuffer(body, dtype=np.uint8)
                           .astype(np.int16) - 128).tolist()
            elif bits == 24:
                raw = body[:len(body) - len(body) % 3]
                b3 = np.frombuffer(raw, np.uint8).reshape(-1, 3)
                v = (b3[:, 0].astype(np.int32)
                     | (b3[:, 1].astype(np.int32) << 8)
                     | (b3[:, 2].astype(np.int32) << 16))
                samples = np.where(v & 0x800000, v - (1 << 24), v).tolist()
            else:
                samples = np.frombuffer(
                    body[:len(body) & ~1], dtype="<i2").tolist()
    if rate is None:
        raise ValueError("missing fmt chunk")
    return rate, samples
