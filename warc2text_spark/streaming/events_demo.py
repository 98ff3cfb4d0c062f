"""Windowed aggregation over the events table: event-time tumbling
windows, per-type counts and value sums.  The ``event_windows`` driver key
runs it.

The reference has no cross-record aggregation (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts_batch(events: DataFrame,
                                window: str = "1 hour") -> DataFrame:
    """Per-type event counts and value sums per tumbling window."""
    return (events.groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))
