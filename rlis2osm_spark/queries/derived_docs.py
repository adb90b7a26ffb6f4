"""Deterministic derived text corpus for the xxhash64-backed oracle queries.

The raw ``documents`` text differs between scale factors, so engine-hash
operators (MinHash-LSH / SimHash over ``F.xxhash64``) cannot carry a
SQL-transcribable oracle over it. This module derives a corpus purely from
``doc_id`` (identical at every sf, needs only doc_id < N_DOCS rows):

- docs 0..119 are "base" texts: 12-20 words from a 40-word vocabulary via
  a quadratic index formula (all native Spark expressions);
- docs 120..239 are planted near-duplicates: the same stream as doc-120
  with exactly ONE position's word replaced.

``text_py(doc_id)`` is the byte-identical CPython replica used by the
expected-output oracle builders: the oracle side recomputes the whole
MinHash/SimHash pipeline with the pure-Python XXH64
(functions/xxh64.py), fully independent of Spark's JVM hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VOCAB = [f"w{i:02d}" for i in range(40)]
N_BASE = 120
N_DOCS = 240
P31 = 2147483647


def _n_words(seed: int) -> int:
    return 12 + (seed * 7) % 9


def _base_idx(seed: int, t: int) -> int:
    return (seed * 13 + t * 29 + t * t) % 40


def text_py(doc_id: int) -> str:
    """CPython replica of the Spark-native derivation below."""
    seed = doc_id % N_BASE
    n = _n_words(seed)
    mut_pos = seed % n
    words = []
    for t in range(n):
        idx = _base_idx(seed, t)
        if doc_id >= N_BASE and t == mut_pos:
            idx = (idx + 7) % 40
        words.append(VOCAB[idx])
    return " ".join(words)


def derived_texts(spark, sf_dir: str) -> DataFrame:
    """(doc_id, text) for doc_id < N_DOCS — native expressions only."""
    from rlis2osm_spark.queries.util import load

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < N_DOCS).select("doc_id")
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    seed = F.col("doc_id") % N_BASE
    n = (F.lit(12) + (seed * 7) % 9).cast("int")
    mut_pos = seed % n

    def word_at(t: Column) -> Column:
        idx = (seed * 13 + t * 29 + t * t) % 40
        idx = F.when((F.col("doc_id") >= N_BASE) & (t == mut_pos),
                     (idx + 7) % 40).otherwise(idx)
        return F.element_at(vocab, (idx + 1).cast("int"))

    words = F.transform(F.sequence(F.lit(0), n - 1), word_at)
    return docs.select("doc_id", F.array_join(words, " ").alias("text"))


# ---------------------------------------------------------------------------
# pure-Python oracle engines (independent of Spark: CPython ints + xxh64.py)
# ---------------------------------------------------------------------------

def _shingles_py(text: str) -> set[str]:
    """Distinct word 3-grams of ``text``."""
    toks = [t for t in text.split() if t]
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def minhash_pairs_py(n_hashes: int, n_bands: int) -> list[tuple[int, int]]:
    """Expected output of operators/dedup.minhash_lsh_pairs over the
    derived corpus: same math, pure-Python xxh64."""
    from rlis2osm_spark.functions.xxh64 import xxh64_str

    rows_per_band = n_hashes // n_bands
    sigs: dict[int, list[int]] = {}
    for d in range(N_DOCS):
        sids = [xxh64_str(s) % P31 for s in _shingles_py(text_py(d))]
        sigs[d] = [
            min(((2 * i + 1) * sid + i * 40503 + 17) % P31 for sid in sids)
            for i in range(n_hashes)
        ]
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    for d, sig in sigs.items():
        for band in range(n_bands):
            key = (band, tuple(sig[band * rows_per_band:(band + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(d)
    pairs = set()
    for members in buckets.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                pairs.add((a, b))
    return sorted(pairs)


def simhash_py() -> list[tuple[int, int]]:
    """Expected (doc_id, signed simhash) of operators/dedup.simhash_signatures
    over the derived corpus."""
    from rlis2osm_spark.functions.xxh64 import xxh64

    out = []
    for d in range(N_DOCS):
        toks = [t for t in text_py(d).split() if t]
        n = len(toks)
        hashes = [xxh64(t.encode()) for t in toks]  # unsigned view
        sig = 0
        for k in range(64):
            c = sum((h >> k) & 1 for h in hashes)
            if 2 * c > n:
                sig |= 1 << k
        if sig >= (1 << 63):
            sig -= 1 << 64
        out.append((d, sig))
    return out


def sql_pair_values(pairs) -> str:
    """[(a, b), ...] -> DuckDB VALUES relation string of (doc_a, doc_b)."""
    if not pairs:
        return ("(SELECT CAST(NULL AS BIGINT) AS doc_a, "
                "CAST(NULL AS BIGINT) AS doc_b WHERE FALSE)")
    rows = ", ".join(f"({a}, {b})" for a, b in pairs)
    return f"(SELECT * FROM (VALUES {rows}) AS _v(doc_a, doc_b))"
