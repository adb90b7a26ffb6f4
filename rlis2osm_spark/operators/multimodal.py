"""Multimodal column operators: image/audio/video as opaque ``binary``
payloads with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing is real and tested — schemas, the media join, batch
shapes, partitioning, the UDF signatures. The codec step:

- ``decode_stub=True`` (default) runs a deterministic fake decoder over the
  raw bytes (no codec needed);
- ``decode_stub=False`` REALLY decodes PNG (stdlib zlib/struct —
  gray/RGB/palette/alpha), GIF (pure-Python LZW, r4), BMP, JPEG —
  baseline/extended sequential and progressive huffman (SOF0/1/2,
  8-bit; pure Python + numpy huffman/DCT, r4; chroma + progressive
  r5), grayscale AND interleaved color, any sampling layout, full-RGB
  output with nearest chroma upsampling — video (MJPEG-AVI,
  uncompressed DIB AVI, animated GIF) and PCM/float WAV (struct over
  RIFF) via functions/codecs.py. Every other JPEG frame type
  (lossless, arithmetic, hierarchical, 12-bit, CMYK), compressed WAV
  and compressed video codecs (MS-RLE/MSVC/Cinepak/H.26x/...) raise
  ``NotImplementedError`` — the exact seam where PIL / pyav /
  soundfile plug in.

Scale notes: payloads never pass through Python row-at-a-time — each
``mapInPandas`` batch is one Arrow RecordBatch of binary blobs; cap batch
bytes with ``spark.sql.execution.arrow.maxRecordsPerBatch`` against blob
size, and partition the media table by ``bucket(media_ref)`` so the
doc<->media join is co-located.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

IMAGE_FEATURE_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("n_bytes", LongType()),
    StructField("format_guess", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),  # real decode only
    StructField("feature", ArrayType(FloatType())),
    StructField("px_sum", LongType()),  # real decode only (exact int,
])                                      # summed over ALL channels)

_MAGIC = {
    b"\x89PNG": "png", b"\xff\xd8\xff": "jpeg", b"GIF8": "gif",
    b"RIFF": "riff", b"BM": "bmp", b"\x01\x02": "wkb-le",
}


def _sniff(b: bytes) -> str:
    for magic, name in _MAGIC.items():
        if b.startswith(magic):
            return name
    return "unknown"


def _fake_decode(payload: bytes, feat_dim: int) -> tuple[int, int, np.ndarray]:
    """Deterministic stand-in for a real image decode: derives a stable
    pseudo raster shape + a byte-histogram feature from the payload."""
    n = len(payload)
    width = 16 + (n * 31) % 240
    height = 16 + (n * 17) % 240
    hist = np.bincount(
        np.frombuffer(payload, dtype=np.uint8) % feat_dim, minlength=feat_dim
    ).astype("float32")
    total = hist.sum()
    if total > 0:
        hist /= total
    return int(width), int(height), hist


def extract_image_features(
    media: DataFrame,
    feat_dim: int = 16,
    decode_stub: bool = True,
) -> DataFrame:
    """media(media_ref, payload, ...) -> per-blob features via mapInPandas."""

    def batches(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                if payload is None:
                    rows.append((ref, 0, None, None, None, None, None, None))
                    continue
                b = bytes(payload)
                fmt = _sniff(b)
                if decode_stub:
                    w, h, feat = _fake_decode(b, feat_dim)
                    rows.append((ref, len(b), fmt, w, h, None,
                                 feat.tolist(), None))
                    continue
                if fmt not in ("png", "gif", "jpeg", "bmp"):
                    raise NotImplementedError(
                        f"real image decoding for {fmt!r} requires an image "
                        "codec library; plug PIL/pyav in here (png, gif, "
                        "bmp and baseline/progressive jpeg — grayscale or "
                        "full-RGB color — decode natively via "
                        "functions/codecs.py)")
                from rlis2osm_spark.functions.codecs import (
                    decode_bmp, decode_gif, decode_jpeg, decode_png_ex)

                if fmt == "jpeg":
                    # 8-bit sequential/progressive huffman, gray or
                    # full-RGB color (r5, nearest chroma upsample); every
                    # other frame type raises NotImplementedError
                    w, h, nch, px = decode_jpeg(b)
                elif fmt == "png":
                    # gray/RGB/palette/alpha at depths 1-8, Adam7 (r5);
                    # 16-bit raises toward decode_png16
                    w, h, nch, px = decode_png_ex(b)
                elif fmt == "bmp":
                    w, h, nch, px = decode_bmp(b)
                else:
                    w, h, px = decode_gif(b)
                    nch = 1
                arr = np.frombuffer(px, dtype=np.uint8)
                hist = np.bincount(arr % feat_dim,
                                   minlength=feat_dim).astype("float32")
                total = hist.sum()
                if total > 0:
                    hist /= total
                rows.append((ref, len(b), fmt, w, h, nch, hist.tolist(),
                             int(arr.sum())))
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURE_SCHEMA.fields])

    return media.select("media_ref", "payload").mapInPandas(
        batches, IMAGE_FEATURE_SCHEMA)


def resize_stub(media: DataFrame, width: int, height: int,
                decode_stub: bool = True) -> DataFrame:
    """Resize: binary in -> binary out, one Arrow pass.

    ``decode_stub=True`` truncates/pads the payload deterministically to
    w*h bytes (codec-free plumbing). ``decode_stub=False`` (REAL as of
    r5): decode the image through the native codecs (png/gif/jpeg — any
    supported subformat), nearest-neighbor resample each channel to
    (width, height), and re-encode as PNG preserving the channel count —
    the spatial-pipeline shape of an image-normalization stage. Formats
    the codec layer can't decode raise its NotImplementedError seam."""
    target = width * height

    def batches(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from rlis2osm_spark.functions.codecs import (
            decode_bmp, decode_gif, decode_jpeg, decode_png_ex, encode_png)

        for pdf in frames:
            out = []
            for payload in pdf["payload"]:
                if payload is None:
                    out.append(None)
                    continue
                b = bytes(payload)
                if decode_stub:
                    out.append((b * (target // max(len(b), 1) + 1))[:target])
                    continue
                fmt = _sniff(b)
                if fmt == "png":
                    w, h, nch, px = decode_png_ex(b)
                elif fmt == "jpeg":
                    w, h, nch, px = decode_jpeg(b)
                elif fmt == "bmp":
                    w, h, nch, px = decode_bmp(b)
                elif fmt == "gif":
                    w, h, px = decode_gif(b)
                    nch = 1
                else:
                    raise NotImplementedError(
                        f"real resize for {fmt!r} payloads requires an "
                        "image codec library (PIL's seam); png/gif/bmp/"
                        "jpeg resize natively")
                src = np.frombuffer(px, dtype=np.uint8).reshape(h, w, nch)
                ys = (np.arange(height) * h // height).clip(0, h - 1)
                xs = (np.arange(width) * w // width).clip(0, w - 1)
                resized = src[np.ix_(ys, xs)]
                out.append(encode_png(
                    width, height, np.ascontiguousarray(resized).tobytes(),
                    channels=nch))
            pdf = pdf.copy()
            pdf["payload"] = out
            yield pdf

    return media.mapInPandas(batches, media.schema)


def frame_sample_refs(media: DataFrame, every_n: int = 10,
                      n_frames_col: str | None = None) -> DataFrame:
    """Video frame sampling plumbing: one row per sampled frame index.
    Without a container parse the frame count is a deterministic function
    of payload length (stub); the explode/shape is the real thing. For
    REAL per-frame decode over AVI/animated-GIF payloads use
    :func:`extract_video_frames`, which parses the container itself."""
    n_frames = (
        F.col(n_frames_col) if n_frames_col
        else (F.length("payload") % 300 + 1)
    )
    return (
        media.withColumn("n_frames", n_frames)
        .select(
            "media_ref", "n_frames",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
        .withColumn("frame_ref",
                    F.concat_ws("#", "media_ref", "frame_idx"))
    )


VIDEO_FRAME_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("n_frames", IntegerType()),
    StructField("frame_idx", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("px_sum", LongType()),  # decoded luma sum (exact int)
])


def extract_video_frames(
    media: DataFrame,
    every_n: int = 1,
    decode_stub: bool = True,
) -> DataFrame:
    """REAL video frame sampling + decode (r4; DIB + animated GIF r5):
    parse the container, take every ``every_n``-th frame, decode each —
    AVI/MJPEG through the baseline JPEG decoder (px_sum = luma sum),
    AVI uncompressed 'DIB ' as bottom-up 24-bit BGR (px_sum over all RGB
    samples), and animated GIF as fully-composited canvas frames
    (transparency + disposal methods honored, px_sum = gray canvas sum)
    -> one row per sampled frame with exact decoded pixel sums. One
    Arrow pass; no per-pixel Python (numpy inside the batch). Other
    codecs raise NotImplementedError from the codec layer — the pyav
    seam. ``decode_stub=True`` (default — the same contract as the
    image/audio extractors) keeps the container parse real but skips the
    per-frame decode (px_sum null); pass ``decode_stub=False`` to really
    decode frames."""

    def batches(frames_it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from rlis2osm_spark.functions.codecs import (
            decode_avi_frames, decode_dib_frame, decode_gif_frames,
            decode_jpeg_gray)

        for pdf in frames_it:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                if payload is None:
                    rows.append((ref, None, None, None, None, None))
                    continue
                b = bytes(payload)
                if b[:4] == b"GIF8":
                    w, h, frames = decode_gif_frames(b)
                    codec = "gif"
                else:
                    w, h, codec, frames = decode_avi_frames(b)
                for idx in range(0, len(frames), every_n):
                    if decode_stub:
                        rows.append((ref, len(frames), idx, w, h, None))
                        continue
                    if codec == "gif":
                        fw, fh, px = w, h, frames[idx]
                    elif codec == "dib":
                        fw, fh, _nch, px = decode_dib_frame(
                            frames[idx], w, h)
                    else:
                        fw, fh, px = decode_jpeg_gray(frames[idx])
                    arr = np.frombuffer(px, dtype=np.uint8)
                    rows.append((ref, len(frames), idx, fw, fh,
                                 int(arr.sum(dtype=np.int64))))
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields])

    return media.select("media_ref", "payload").mapInPandas(
        batches, VIDEO_FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("n_bytes", LongType()),
    StructField("n_windows", IntegerType()),
    StructField("rms", ArrayType(FloatType())),       # per-window energy
    StructField("zero_crossings", LongType()),
    # real decode only (exact ints over decoded PCM16 samples)
    StructField("n_samples", LongType()),
    StructField("abs_sum", LongType()),
    StructField("peak", IntegerType()),
])


def extract_audio_features(
    media: DataFrame,
    window: int = 1024,
    max_windows: int = 64,
    decode_stub: bool = True,
) -> DataFrame:
    """Audio plumbing: binary payload -> windowed energy features, one Arrow
    pass. The stub treats the raw bytes as int8 PCM (deterministic); a real
    decoder (soundfile/torchaudio) plugs in at the seam. Vectorized numpy
    per batch — no per-sample Python."""

    def batches(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                if payload is None:
                    rows.append((ref, 0, None, None, None, None, None, None))
                    continue
                b = bytes(payload)
                extra = (None, None, None)
                if decode_stub:
                    sig = np.frombuffer(b, dtype=np.int8).astype("float32")
                else:
                    # check the full RIFF/WAVE signature: a RIFF container
                    # that is not WAVE (e.g. RIFF/AVI) must hit this seam,
                    # not a mid-job ValueError from decode_wav (ADVICE r3)
                    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                        raise NotImplementedError(
                            "real audio decoding for non-WAV payloads "
                            "requires a codec library; plug soundfile/"
                            "torchaudio in here (PCM and float32 WAV "
                            "decode natively via functions/codecs.py)")
                    from rlis2osm_spark.functions.codecs import decode_wav

                    _, samples = decode_wav(b)
                    s = np.asarray(samples)
                    if s.dtype.kind != "f":  # integer PCM: exact features
                        s = s.astype(np.int64)
                        extra = (len(s),
                                 int(np.abs(s).sum()) if len(s) else 0,
                                 int(np.abs(s).max()) if len(s) else 0)
                    else:  # float32 WAV: round to the int feature contract
                        extra = (len(s),
                                 int(round(float(np.abs(s).sum())))
                                 if len(s) else 0,
                                 int(round(float(np.abs(s).max())))
                                 if len(s) else 0)
                    sig = s.astype("float32")
                n_win = min(max(len(sig) // window, 1), max_windows)
                used = sig[: n_win * window] if len(sig) >= window else sig
                if len(used) >= window:
                    w = used.reshape(n_win, window)
                    rms = np.sqrt((w * w).mean(axis=1))
                else:
                    rms = np.array([np.sqrt((used * used).mean())
                                    if len(used) else 0.0], dtype="float32")
                    n_win = 1
                zc = int(np.count_nonzero(np.diff(np.signbit(sig))))
                rows.append((ref, len(b), n_win,
                             [float(x) for x in rms], zc, *extra))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA.fields])

    return media.select("media_ref", "payload").mapInPandas(
        batches, AUDIO_FEATURE_SCHEMA)
