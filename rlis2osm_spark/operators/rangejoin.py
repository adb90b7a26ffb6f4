"""Interval-overlap (range) join — bucketed candidate generation so the
join is an equi-join on (key, bucket), not an O(n*m) theta join.

Each interval explodes into the fixed-width buckets it touches; candidates
pair on the bucket; the exact overlap predicate filters; dedup collapses
multi-bucket pairs. Bucket width trades explode factor vs candidate
precision — the same knob as tile resolution in the spatial layer (this IS
the 1-D version of the tile join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_buckets(df: DataFrame, start: str, end: str, width: int) -> DataFrame:
    b0 = F.floor(F.col(start) / width)
    b1 = F.floor(F.col(end) / width)
    return df.select(
        "*", F.explode(F.sequence(b0, b1)).alias("_bucket"))


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str | None,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_width: int,
) -> DataFrame:
    """Pairs (l, r) whose [start, end] intervals overlap (closed-interval
    semantics: touching endpoints count), optionally within an equality
    key. Columns must be numeric (cast timestamps to epoch first)."""
    ls, le = left_range
    rs, re_ = right_range
    lb = _with_buckets(left, ls, le, bucket_width)
    rb = _with_buckets(right, rs, re_, bucket_width)
    keys = ["_bucket"] + ([on] if on else [])
    cands = lb.join(rb, keys)
    overlap = (F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))
    # anchor-bucket dedup: a pair that overlaps appears in every bucket
    # both intervals touch; count it ONLY in the bucket containing
    # max(start, start) — exactly one bucket per overlapping pair, so no
    # distinct (a full extra shuffle) is needed.
    anchor = F.floor(F.greatest(F.col(ls), F.col(rs)) / bucket_width)
    out_cols = []
    for c in left.columns + right.columns:
        if c != "_bucket" and c not in out_cols:
            out_cols.append(c)
    return (
        cands.where(overlap & (F.col("_bucket") == anchor))
        .select(*out_cols)
    )
