"""As-of (most-recent-match) join — an operator vanilla Spark lacks,
composed from existing primitives per the build brief's preference order:
union-tag + partitioned window ``last_value(ignorenulls)`` — one shuffle on
(key), no range explosion, no UDF.

For each left row, attaches the latest right row with ``right.ts <=
left.ts`` within the same key (backward as-of; the standard market-data /
event-enrichment join). Cross-checked against DuckDB's native ASOF JOIN.

Scale: the single shuffle is by key; heavily-skewed keys use the same
salting contract as every other operator (salt both sides, as-of per
salt is wrong for cross-salt lookback — instead range-bucket time into the
key: (key, time_bucket) with a carry-forward union of bucket boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Backward as-of join: latest right row at or before each left row.

    Both sides carry their time in ``ts``; every other right column but
    ``on`` comes back as ``<name>_asof``. Ties on the same timestamp: the
    right row sorts BEFORE the left probe (a right event at exactly t is
    visible to a left probe at t), matching DuckDB ASOF JOIN's
    ``right.ts <= left.ts`` semantics.
    """
    value_cols = [c for c in right.columns if c not in (on, "ts")]

    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = right.select(
        F.col(on), F.col("ts"),
        *[F.col(c).alias(f"{c}_asof") for c in value_cols],
    ).withColumn("_side", F.lit(0))

    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    # right rows (side 0) sort before left probes (side 1) at equal ts
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = merged.withColumns({
        f"{c}_asof": F.last(F.col(f"{c}_asof"), ignorenulls=True).over(w)
        for c in value_cols
    })
    return filled.where(F.col("_side") == 1).drop("_side")
