"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — native expressions end-to-end (the descendant of
the reference's name-normalization layer, generalized to corpus hygiene).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language marker lists (n-gram heuristic): enough for a
# deterministic argmax language guess; swap for real profiles in prod
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "de": ["der", "die", "und", "ist", "mit", "nicht"],
    "fr": ["le", "la", "et", "est", "les", "pour"],
    "es": ["el", "la", "de", "que", "los", "para"],
}

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

# BPE-ish token estimate: words + digit runs + punctuation clusters
TOKEN_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def subword_count(text: Column) -> Column:
    """BPE-ish token estimate via regexp match counting (native). r7:
    regexp_count replaces size(regexp_extract_all(...)) — the same
    non-overlapping match count without materializing the match array."""
    return F.regexp_count(text, F.lit(TOKEN_RX))


def _lang_score_cols(text: Column) -> dict[str, Column]:
    # lowercase per already-split token (whitespace is case-stable), so the
    # expensive split is ONE shared subexpression instead of 4 re-splits
    lo = F.transform(tokens(text), lambda w: F.lower(w))
    return {
        lang: F.size(F.filter(lo, lambda w: w.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_guess(text: Column) -> Column:
    """argmax language (deterministic tie-break by ascending language
    code) — a greatest + when-chain, not a per-row map sort (the array_sort
    comparator lambda measured ~4x the cost of the rest of the feature
    set combined)."""
    scores = _lang_score_cols(text)
    gmax = F.greatest(*scores.values())
    expr = None
    for lang in sorted(scores):
        cond = scores[lang] == gmax
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return F.when(gmax > 0, expr)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition features + a composite
    quality score in [0, 1].

    Staged through explicit intermediate columns: codegen subexpression
    elimination does NOT reach inside higher-order-function lambdas, so a
    flat expression tree re-splits the text once per feature (measured
    2-4x the whole feature set). Multi-referenced non-cheap aliases
    survive CollapseProject, so each stage evaluates once per row."""
    text = F.col(text_col)
    staged = df.withColumn("_toks", tokens(text))
    # r7: lowercase the token array ONCE as its own stage (it was inlined
    # into each of the four language-score filters, so the transform ran
    # 4x per row — multi-referenced aliases survive CollapseProject, the
    # same staging rule as _toks itself)
    staged = staged.withColumn(
        "_lotoks", F.transform("_toks", lambda w: F.lower(w)))
    score_cols = {
        f"_s_{lang}": F.size(F.filter(
            "_lotoks", lambda w: w.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    staged = staged.withColumns({
        "_n_tok": F.size("_toks"),
        "_n_stop": F.size(F.filter("_toks", lambda w: w.isin(*STOPWORDS_EN))),
        "_n_uniq": F.size(F.array_distinct("_toks")),
        # r7: count punctuation matches directly — same integer as
        # length(regexp_replace(text, '[^punct]', '')) without building
        # the stripped string per row
        "_n_punct": F.regexp_count(text, F.lit(r"[!-/:-@\[-`{-~]")),
        "_n_chars": F.length(text),
        "_n_sub": subword_count(text),
        **score_cols,
    })
    n_tok = F.col("_n_tok")
    safe_n = F.when(n_tok == 0, 1).otherwise(n_tok)
    n_stop, n_punct = F.col("_n_stop"), F.col("_n_punct")
    n_chars = F.col("_n_chars")
    rep_ratio = 1.0 - F.col("_n_uniq") / safe_n
    quality = F.round(
        F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.4
        + (1.0 - F.least(F.lit(1.0), n_punct / F.greatest(n_chars, F.lit(1)) * 5)) * 0.2
        + (1.0 - rep_ratio) * 0.2
        + F.least(F.lit(1.0), n_stop / safe_n * 5) * 0.2, 6)
    gmax = F.greatest(*[F.col(c) for c in sorted(score_cols)])
    guess = None
    for lang in sorted(LANG_MARKERS):
        cond = F.col(f"_s_{lang}") == gmax
        guess = F.when(cond, lang) if guess is None else guess.when(cond, lang)
    return staged.withColumns({
        "n_tokens": n_tok,
        "n_subwords": F.col("_n_sub"),
        "stopword_ratio": F.round(n_stop / safe_n, 6),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "repetition_ratio": F.round(rep_ratio, 6),
        "lang_guess": F.when(gmax > 0, guess),
        "quality": quality,
    }).drop("_toks", "_lotoks", "_n_tok", "_n_stop", "_n_uniq", "_n_punct",
            "_n_chars", "_n_sub", *score_cols)


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Order-sensitive 64-bit document fingerprint: xxhash64 rolling fold
    over (position, token-hash) — the production variant of the
    vocabulary-ranked oracle query (x2_fingerprint)."""
    toks = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "t")
    ).filter(F.col("t") != "")
    h = toks.withColumn("th", F.xxhash64("t", "pos"))
    return h.groupBy(id_col).agg(
        F.bit_xor("th").alias("fp_xor"),
        F.sum(F.pmod("th", F.lit(2147483647))).alias("fp_sum"),
        F.count("*").alias("n_tokens"),
    )


def rolling_fingerprint(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", window: int = 4,
                        n_keep: int = 8, base: int = 31,
                        prime: int = 2147483647) -> DataFrame:
    """Winnowing-style document fingerprint via polynomial rolling hashes.

    Each ``window``-gram of word ids gets the Rabin-Karp polynomial hash
    ``sum(wid[i+j] * base^(window-1-j)) mod prime`` (computed with lead()
    columns — vectorized and native; "rolling" reuse is an implementation
    detail of sequential scanners, not a semantic), and the document's
    fingerprint is its ``n_keep`` smallest window hashes — a stable sketch:
    editing one region disturbs only nearby windows, so near-identical
    documents share most of their min-hashes. This production path derives
    word ids via xxhash64; the oracle query (x7_rolling_fingerprint) runs
    the same core over deterministic vocabulary ids DuckDB reproduces."""
    toks = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "t")
    ).filter(F.col("t") != "")
    wid = toks.withColumn("wid", F.pmod(F.xxhash64("t"), F.lit(prime)))
    return rolling_fingerprint_from_ids(
        wid, id_col=id_col, window=window, n_keep=n_keep,
        base=base, prime=prime)


def rolling_fingerprint_from_ids(wid_df: DataFrame, id_col: str = "doc_id",
                                 window: int = 4, n_keep: int = 8,
                                 base: int = 31,
                                 prime: int = 2147483647) -> DataFrame:
    """Core winnowing over an (id_col, pos, wid) frame — shared by the
    production path (xxhash64 ids) and the oracle path (derived ids)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy("pos")
    terms = []
    for j in range(window):
        c = F.col("wid") if j == 0 else F.lead("wid", j).over(w)
        terms.append(c.cast("long") * (base ** (window - 1 - j)))
    hash_expr = F.pmod(sum(terms[1:], terms[0]), F.lit(prime))
    hashes = (
        wid_df.withColumn("whash", hash_expr)
        .filter(F.col("whash").isNotNull())  # tail positions lack a full gram
    )
    return (
        hashes.groupBy(id_col)
        .agg(F.slice(F.array_sort(F.collect_set("whash")), 1, n_keep)
             .alias("fingerprint"),
             F.count("*").alias("n_windows"))
    )
