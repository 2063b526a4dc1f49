"""Sessionization — gap-based event sessions.

``sessionize`` is the classic windowed formulation — per-key lag,
boundary flag when the gap is exceeded, running sum of boundaries as
the session index, then one grouped aggregate per session. ONE
shuffle total: the windows and the final (key, sid) aggregate all
reuse the same key hash partitioning (audited in tests/test_plans.py).
Order-invariant under timestamp ties, expressible 1:1 in ANSI SQL
(``sessionize_sql`` is the DuckDB oracle).

Scale: shuffles (key, ts, value) rows once — no driver involvement
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _epoch_us(df: DataFrame, ts_col: str) -> Column:
    """Integer-µs time axis for ``ts_col``, robust to how the source
    encoded it: ``unix_micros`` requires TIMESTAMP (LTZ), so a
    TIMESTAMP_NTZ axis (timezone-naive parquet, the r4 testdata shape)
    is cast through session-tz TIMESTAMP first — the session pins UTC,
    so the micros value is unchanged."""
    col = F.col(ts_col)
    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        col = col.cast("timestamp")
    return F.unix_micros(col)


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap_minutes: int = 240,
) -> DataFrame:
    """Batch sessionization: sessions split where the within-key gap
    exceeds ``gap_minutes``. Comparison runs on the integer microsecond
    axis (engine-portable; no timestamp-precision edge cases).

    Returns one row per session: key, session_idx (1-based per key),
    start/end epoch-µs, event count, value sum.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    us = _epoch_us(df, ts_col)
    w_order = Window.partitionBy(key_col).orderBy("__us")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = (
        df.select(F.col(key_col), us.alias("__us"), F.col(value_col))
        .withColumn("__prev", F.lag("__us").over(w_order))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__us") - F.col("__prev") > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn("__sid", F.sum("__new").over(w_run))
    )
    return (
        marked.groupBy(key_col, "__sid")
        .agg(
            F.min("__us").alias("session_start_us"),
            F.max("__us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("__sid").cast("bigint").alias("session_idx"),
            "session_start_us",
            "session_end_us",
            "n_events",
            "sum_value",
        )
    )


def sessionize_sql(gap_minutes: int = 240, table: str = "events") -> str:
    """The DuckDB-runnable oracle for ``sessionize`` (identical window
    formulation on the same integer µs axis)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH t AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value FROM {table}
), m AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS is_new
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
), s AS (
  SELECT user_id, us, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
)
SELECT user_id,
       CAST(sid AS BIGINT) AS session_idx,
       MIN(us) AS session_start_us,
       MAX(us) AS session_end_us,
       COUNT(*) AS n_events,
       SUM(value) AS sum_value
FROM s GROUP BY user_id, sid
"""
