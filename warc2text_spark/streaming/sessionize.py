"""Gap-based sessionization over the events table, in batch form: a
session closes after ``gap_seconds`` of inactivity per user (the shape a
crawl-ops pipeline uses for e.g. per-host fetch sessions or rate
accounting).  Window functions mark the gap boundaries; the
``sessionize`` driver key runs it.

Capability beyond the reference, which has no cross-record state
(SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """events (ts, user_id, value) -> one row per session; session ids
    come from the gap boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    # parquet TIMESTAMP_NTZ cannot cast to bigint directly (Spark 4)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = (F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(w)) > gap_seconds
    sess = F.sum(F.when(gaps, 1).otherwise(0)).over(w)
    return (events.withColumn("session_id", sess)
            .groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .drop("session_id"))
