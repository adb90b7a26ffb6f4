"""Event-stream operators in batch form (tumbling window agg,
sessionization, as-of enrichment), each with an exact oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from rlis2osm_spark.queries.util import load

D = "decimal(18,2)"


def w1_hourly_windows(spark, sf_dir):
    """Tumbling 1-hour window counts + decimal sums per event_type."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(D)).cast("decimal(38,2)")
            .cast("string").alias("total"),
        )
        .select(F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type", "n", "total")
    )


# total as decimal->string on both sides: DuckDB .df() would materialize the
# DECIMAL as float64 (dropping trailing zeros) while Spark keeps Decimal.
_W1_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS {D})) AS DECIMAL(38,2)) AS VARCHAR) AS total
FROM events GROUP BY 1, 2
"""


def w2_sessionization(spark, sf_dir):
    """Gaps-and-islands sessionization: 30-min inactivity closes a session."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.unix_timestamp(F.col("ts"))
    gap = epoch - F.lag(epoch).over(w)
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    with_sid = with_flag.withColumn(
        "session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"),
             F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("start"),
             F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end"))
    )


_W2_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS "end"
FROM s GROUP BY user_id, session_seq
"""


def w4_asof_enrichment(spark, sf_dir):
    """Backward as-of join: each error event enriched with the user's most
    recent purchase value at or before it (operators/asof.py), cross-checked
    against DuckDB's native ASOF JOIN."""
    from rlis2osm_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    out = asof_join(errors, purchases, on="user_id",
                    value_cols=["value"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.col("value_asof"),
    )


_W4_SQL = """
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       p.value AS value_asof
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


QUERIES = {
    "w1_hourly_windows": w1_hourly_windows,
    "w2_sessionization": w2_sessionization,
    "w4_asof_enrichment": w4_asof_enrichment,
}

ORACLES = {
    "w1_hourly_windows": _W1_SQL,
    "w2_sessionization": _W2_SQL,
    "w4_asof_enrichment": _W4_SQL,
}


def w5_session_window(spark, sf_dir):
    """Catalyst's native session_window in batch mode — must reproduce the
    w2 gaps-and-islands sessionization session-by-session (strict-gap
    boundary)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("start"),
             F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end"))
        .select("user_id", "n_events", "start", "end")
    )


# session_window merges at diff <= gap INCLUSIVE, at full microsecond
# precision (verified empirically: diff == 30min merges, +1us splits) —
# so the oracle uses an exact interval comparison, NOT the second-floored
# epoch arithmetic of the w2 islands transcription.
_W5_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
)
SELECT user_id, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS "end"
FROM s GROUP BY user_id, session_seq
"""

QUERIES.update({"w5_session_window": w5_session_window})
ORACLES.update({"w5_session_window": _W5_SQL})
