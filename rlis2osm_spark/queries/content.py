"""Training-data pipeline operators over documents/embeddings: dedup family
(exact, n-gram Jaccard, MinHash-LSH, SimHash), similarity search, text
analysis, fingerprinting — each with an exact DuckDB oracle.

Hash-dependent operators derive word ids from a deterministic dense-rank
over the sorted vocabulary (both engines), then use integer modular hashes —
no engine-specific hash function, so results are bit-identical. The
production-scale variants (xxhash64-based, no global rank) live in
operators/dedup.py and have exact oracles too since r3: d5_minhash_engine
verifies Spark xxhash64 against an independent pure-Python XXH64 port, and
d4_simhash's xxh64 legs do the same (see queries/content2.py).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from rlis2osm_spark.queries.util import load

P31 = 2147483647  # Mersenne prime 2^31-1
N_HASH = 8
N_BANDS = 4  # 2 rows per band


def _words(spark, sf_dir, limit: int | None = None):
    docs = load(spark, sf_dir, "documents")
    if limit:
        docs = docs.filter(F.col("doc_id") < limit)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).filter(F.col("word") != "")


_WORDS_SQL = """
  SELECT doc_id, i - 1 AS pos, words[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents {where}),
       LATERAL (SELECT unnest(generate_series(1, len(words))) AS i)
  WHERE words[i] <> ''
"""


def _word_ids(words_df):
    """Deterministic vocabulary ids: dense_rank over sorted distinct words.
    (Oracle-parity path: the global sort is fine at sf0.01; the production
    path uses xxhash64 — operators/dedup.py.)"""
    vocab = (
        words_df.select("word").distinct()
        .withColumn("wid", F.dense_rank().over(Window.orderBy("word")))
    )
    return words_df.join(vocab, "word")


_WORD_IDS_SQL = """
  SELECT w.doc_id, w.pos, w.word, v.wid
  FROM ({words}) w
  JOIN (SELECT word, DENSE_RANK() OVER (ORDER BY word) AS wid
        FROM (SELECT DISTINCT word FROM ({words}))) v
    ON w.word = v.word
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def d1_exact_dedup(spark, sf_dir):
    """Exact dedup: content hash groups, deterministic survivor = min doc_id."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("survivor"),
             F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
    )


_D1_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS survivor, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def d2_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-word-shingle Jaccard >= 0.4 (explode -> self-join
    on shingle -> intersection counts vs union)."""
    w = _words(spark, sf_dir, limit=120)
    sh = (
        w.withColumn(
            "shingle",
            F.concat_ws(" ", F.col("word"),
                        F.lead("word", 1).over(
                            Window.partitionBy("doc_id").orderBy("pos")),
                        F.lead("word", 2).over(
                            Window.partitionBy("doc_id").orderBy("pos"))),
        )
        .filter(F.size(F.split("shingle", " ")) == 3)
        .select("doc_id", "shingle").distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard",
                    F.round(F.col("n_inter")
                            / (F.col("na") + F.col("nb") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


_D2_SQL = f"""
WITH w AS ({_WORDS_SQL.format(where="WHERE doc_id < 120")}),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                || ' ' || LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
    FROM w
  ) WHERE shingle IS NOT NULL AND len(string_split(shingle, ' ')) = 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.4
"""


def d3_minhash_lsh(spark, sf_dir):
    """MinHash/LSH candidate pairs: 8 modular hashes over vocabulary ids,
    4 bands x 2 rows; pairs sharing any band bucket."""
    wid = _word_ids(_words(spark, sf_dir, limit=150)).select("doc_id", "wid").distinct()
    h = wid.select(
        "doc_id", "wid", F.explode(F.sequence(F.lit(0), F.lit(N_HASH - 1))).alias("i")
    ).withColumn(
        "hv", ((F.lit(2) * F.col("i") + 1) * F.col("wid")
               + F.col("i") * F.lit(40503) + 17) % P31
    )
    sig = h.groupBy("doc_id", "i").agg(F.min("hv").alias("mh"))
    band = sig.withColumn("band", F.expr(f"i div {N_HASH // N_BANDS}"))
    bkey = (
        band.groupBy("doc_id", "band")
        .agg(F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mh"))),
            lambda s: s["mh"].cast("string")), ",").alias("bucket"))
    )
    a, b = bkey.alias("a"), bkey.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_D3_SQL = f"""
WITH w AS ({_WORDS_SQL.format(where="WHERE doc_id < 150")}),
wid AS (SELECT DISTINCT doc_id, wid FROM ({_WORD_IDS_SQL.format(words=_WORDS_SQL.format(where="WHERE doc_id < 150"))})),
h AS (
  SELECT doc_id, wid, i,
         ((2 * i + 1) * wid + i * 40503 + 17) % {P31} AS hv
  FROM wid, LATERAL (SELECT unnest(generate_series(0, {N_HASH - 1})) AS i)
),
sig AS (SELECT doc_id, i, MIN(hv) AS mh FROM h GROUP BY doc_id, i),
band AS (
  SELECT doc_id, i // {N_HASH // N_BANDS} AS band,
         STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
  FROM sig GROUP BY doc_id, i // {N_HASH // N_BANDS}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM band a JOIN band b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def _d4_rank16(spark, sf_dir):
    """16-bit SimHash from vocabulary ids (bit votes via modular parity).
    One row per word occurrence: the per-bit vote sums are 16 conditional
    sums in a single groupBy (round 1 exploded 16 rows per word — same
    output, 16x less shuffle input; mirrors operators/dedup.py)."""
    wid = _word_ids(_words(spark, sf_dir, limit=150)).select("doc_id", "wid")
    votes = [
        F.sum(F.when(((F.col("wid") * 2654435761 + k * 40503) % 2) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"_s{k}")
        for k in range(16)
    ]
    per_doc = wid.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for k in range(16):
        sig = sig + F.when(F.col(f"_s{k}") > 0, F.lit(1 << k)).otherwise(0)
    return per_doc.select("doc_id", sig.alias("simhash"))


_D4_SQL = f"""
WITH wid AS (SELECT doc_id, wid FROM ({_WORD_IDS_SQL.format(words=_WORDS_SQL.format(where="WHERE doc_id < 150"))})),
bits AS (
  SELECT doc_id, k,
         CASE WHEN (wid * 2654435761 + k * 40503) % 2 = 1 THEN 1 ELSE -1 END AS vote
  FROM wid, LATERAL (SELECT unnest(generate_series(0, 15)) AS k)
),
votes AS (SELECT doc_id, k, SUM(vote) AS s FROM bits GROUP BY doc_id, k)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def d4_simhash(spark, sf_dir):
    """SimHash signatures, two configurations in one tagged output
    (r3 merge of the former ``d4_simhash`` + ``x4_simhash_prod``):

    - ``rank16``: 16-bit signature from deterministic vocabulary-rank ids
      over real documents (<150) — the SQL-transcribable leg;
    - ``xxh64``: the PRODUCTION path (operators/dedup.simhash_signatures,
      64-bit xxhash64 token hashes, no global vocabulary state) over the
      derived corpus — its oracle is an expected-output VALUES relation
      recomputed by the pure-Python XXH64 twin (queries/derived_docs.py),
      a fully independent implementation of the same public hash.
    """
    from rlis2osm_spark.operators.dedup import simhash_signatures
    from rlis2osm_spark.queries.derived_docs import derived_texts

    toy = _d4_rank16(spark, sf_dir).select(
        F.lit("rank16").alias("config"), "doc_id", "simhash")
    prod = simhash_signatures(derived_texts(spark, sf_dir)).select(
        F.lit("xxh64").alias("config"), "doc_id", "simhash")
    return toy.unionByName(prod)


def _d4_merged_sql() -> str:
    from rlis2osm_spark.queries.derived_docs import simhash_py

    rows = ", ".join(f"({d}, {s})" for d, s in simhash_py())
    return f"""
SELECT 'rank16' AS config, doc_id, simhash FROM ({_D4_SQL})
UNION ALL
SELECT 'xxh64' AS config, doc_id, CAST(simhash AS BIGINT) AS simhash
FROM (VALUES {rows}) AS _v(doc_id, simhash)
"""


def d6_simhash_hamming_k(spark, sf_dir):
    """Hamming-k near-dup pairs: banded candidate generation (4 x 4-bit
    chunks of the 16-bit d4 signature -> equi-join, never all-pairs) +
    exact bit_count verify. The oracle brute-forces all pairs — identical
    results prove the banding loses nothing (pigeonhole: complete for
    hamming <= n_bands-1)."""
    from rlis2osm_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(_d4_rank16(spark, sf_dir))


_D6_SQL = f"""
WITH sig AS ({_D4_SQL}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 2
"""


# ---------------------------------------------------------------------------
# similarity search (ANN baseline: brute-force cosine top-k)
# ---------------------------------------------------------------------------

def n1_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for 15 probe vectors. Rank-only output:
    scores are IEEE-identical per pair in both engines (same fold order),
    and random float vectors make cross-pair ties impossible."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("v"))
    probes = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("p"))
    pairs = probes.crossJoin(emb.filter(F.col("vec_id") >= 15))
    dot = F.aggregate(
        F.zip_with("p", "v", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (norm(F.col("p")) * norm(F.col("v")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


_N1_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
         list_dot_product(p.v, n.v)
         / (sqrt(list_dot_product(p.v, p.v))
            * sqrt(list_dot_product(n.v, n.v))) AS cos
  FROM e p JOIN e n ON p.vec_id < 15 AND n.vec_id >= 15
)
SELECT probe_id, neighbor_id, rank FROM (
  SELECT probe_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def x1_text_quality(spark, sf_dir):
    """Full text-quality feature set — lang-ID (marker argmax), stopword /
    punctuation / repetition ratios, subword estimate, composite score; all
    native expressions (operators/textstats.quality_features). r3: absorbs
    the former ``x3_quality_features`` (this superset replaces the old
    4-feature x1)."""
    from rlis2osm_spark.operators.textstats import quality_features

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # higher-order-function projects are codegen-fallback (interpreted), so
    # per-row cost dominates — spread the scan across cores ONLY when the
    # file layout under-splits it (a TB-scale table is already multi-split
    # and must not pay a full-corpus shuffle for this)
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if docs.rdd.getNumPartitions() < n:
        docs = docs.repartition(n)
    return quality_features(docs).drop("text")


def _x1_sql() -> str:
    """Full SQL transcription of quality_features: same token/stopword/
    punct/repetition arithmetic in the same fold order, lang argmax with
    the ascending-key tie-break."""
    from rlis2osm_spark.operators.textstats import LANG_MARKERS, STOPWORDS_EN

    stop = str(STOPWORDS_EN).replace('"', "'")
    lang_cols = ",\n         ".join(
        f"len(list_filter(lotoks, w -> list_contains("
        f"{str(m).replace(chr(34), chr(39))}, w))) AS s_{lang}"
        for lang, m in LANG_MARKERS.items())
    langs = sorted(LANG_MARKERS)
    guess = " ".join(
        f"WHEN s_{code} = gmax THEN '{code}'" for code in langs)
    return rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS toks,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS lotoks
  FROM documents
), f AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tok,
         CASE WHEN len(toks) = 0 THEN 1 ELSE len(toks) END AS safe_n,
         len(list_filter(toks, w -> list_contains({stop}, w))) AS n_stop,
         length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct,
         length(text) AS n_chars,
         len(list_distinct(toks)) AS n_uniq,
         {lang_cols}
  FROM t
), g AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS gmax,
         1.0 - n_uniq / safe_n AS rep_ratio
  FROM f
)
SELECT doc_id,
       n_tok AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords,
       ROUND(n_stop / safe_n, 6) AS stopword_ratio,
       ROUND(n_punct / GREATEST(n_chars, 1), 6) AS punct_ratio,
       ROUND(rep_ratio, 6) AS repetition_ratio,
       CASE WHEN gmax = 0 THEN NULL {guess} END AS lang_guess,
       ROUND(LEAST(1.0, n_tok / 100.0) * 0.4
             + (1.0 - LEAST(1.0, n_punct / GREATEST(n_chars, 1) * 5)) * 0.2
             + (1.0 - rep_ratio) * 0.2
             + LEAST(1.0, n_stop / safe_n * 5) * 0.2, 6) AS quality
FROM g
"""


def x2_fingerprint(spark, sf_dir):
    """Order-sensitive document fingerprint over vocabulary ids (positional
    weighted sum mod P + xor-fold) joined with the token-counting features
    (whitespace tokens + BPE-ish subword estimate) — r3: absorbs the former
    ``x6_subword_tokens``; ints on both engines throughout."""
    from rlis2osm_spark.operators.textstats import subword_count, token_count

    wid = _word_ids(_words(spark, sf_dir))
    # 64-bit terms on both sides: Spark would otherwise fold in int32 (silent
    # overflow at scale) while DuckDB's pos/wid are already BIGINT.
    term_sum = (F.col("pos") + 1).cast("long") * F.col("wid").cast("long")
    term_xor = (F.col("pos") + 13).cast("long") * F.col("wid").cast("long")
    fp = (
        wid.groupBy("doc_id")
        .agg(
            (F.sum(term_sum) % P31).alias("fp_sum"),
            F.bit_xor(term_xor).alias("fp_xor"),
        )
    )
    counts = load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        subword_count(F.col("text")).alias("n_subword_tokens"),
    )
    return fp.join(counts, "doc_id")


_X2_SQL = rf"""
WITH wid AS ({_WORD_IDS_SQL.format(words=_WORDS_SQL.format(where=""))}),
fp AS (
  SELECT doc_id,
         CAST(SUM((pos + 1) * wid) % {P31} AS BIGINT) AS fp_sum,
         BIT_XOR((pos + 13) * wid) AS fp_xor
  FROM wid GROUP BY doc_id
),
counts AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subword_tokens
  FROM documents
)
SELECT fp.doc_id, fp_sum, fp_xor, n_ws_tokens, n_subword_tokens
FROM fp JOIN counts ON fp.doc_id = counts.doc_id
"""


def x5_hash_sampling(spark, sf_dir):
    """Deterministic hash sampling — the reproducible subset selector for
    training-data pipelines (same rows at any scale/cluster, unlike
    seed-based sample()). 10% band of a multiplicative hash on the key,
    plus per-language stratified counts of the selected set."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 100
    picked = docs.filter(bucket < 10)
    return (
        picked.groupBy("lang")
        .agg(F.count("*").alias("n_sampled"),
             F.min("doc_id").alias("first_doc"),
             (F.sum("n_chars")).alias("chars"))
    )


_X5_SQL = """
SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
WHERE (doc_id * 2654435761) % 100 < 10
GROUP BY lang
"""


QUERIES = {
    "x5_hash_sampling": x5_hash_sampling,
    "d1_exact_dedup": d1_exact_dedup,
    "d2_ngram_jaccard": d2_ngram_jaccard,
    "d3_minhash_lsh": d3_minhash_lsh,
    "d4_simhash": d4_simhash,
    "d6_simhash_hamming_k": d6_simhash_hamming_k,
    "n1_cosine_topk": n1_cosine_topk,
    "x1_text_quality": x1_text_quality,
    "x2_fingerprint": x2_fingerprint,
}

ORACLES = {
    "x5_hash_sampling": _X5_SQL,
    "d1_exact_dedup": _D1_SQL,
    "d2_ngram_jaccard": _D2_SQL,
    "d3_minhash_lsh": _D3_SQL,
    "d4_simhash": _d4_merged_sql(),
    "d6_simhash_hamming_k": _D6_SQL,
    "n1_cosine_topk": _N1_SQL,
    "x1_text_quality": _x1_sql(),
    "x2_fingerprint": _X2_SQL,
}


def x7_rolling_fingerprint(spark, sf_dir):
    """Winnowing fingerprint (rolling w-gram hashes, min-k sketch) over
    deterministic vocabulary ids so DuckDB reproduces it exactly
    (operators/textstats.rolling_fingerprint_from_ids)."""
    from rlis2osm_spark.operators.textstats import rolling_fingerprint_from_ids

    wid = _word_ids(_words(spark, sf_dir, limit=200)).select(
        "doc_id", "pos", F.col("wid").cast("long").alias("wid"))
    out = rolling_fingerprint_from_ids(wid)
    return out.select(
        "doc_id",
        F.array_join(F.transform("fingerprint",
                                 lambda h: h.cast("string")), ",")
        .alias("fingerprint"),
        "n_windows")


_X7_SQL = f"""
WITH wid AS (SELECT doc_id, pos, wid FROM ({_WORD_IDS_SQL.format(words=_WORDS_SQL.format(where="WHERE doc_id < 200"))})),
h AS (
  SELECT doc_id, pos,
         (wid * {31 ** 3}
          + LEAD(wid, 1) OVER (PARTITION BY doc_id ORDER BY pos) * {31 ** 2}
          + LEAD(wid, 2) OVER (PARTITION BY doc_id ORDER BY pos) * 31
          + LEAD(wid, 3) OVER (PARTITION BY doc_id ORDER BY pos)) % 2147483647 AS whash
  FROM wid
),
k AS (SELECT doc_id, whash FROM h WHERE whash IS NOT NULL),
fp AS (
  SELECT doc_id,
         list_aggregate(list_slice(list_sort(list_distinct(list(whash))), 1, 8),
                        'string_agg', ',') AS fingerprint,
         COUNT(*) AS n_windows
  FROM k GROUP BY doc_id
)
SELECT doc_id, fingerprint, n_windows FROM fp
"""

QUERIES.update({"x7_rolling_fingerprint": x7_rolling_fingerprint})
ORACLES.update({"x7_rolling_fingerprint": _X7_SQL})
