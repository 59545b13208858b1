"""Windowed event aggregation, checked by q23's DuckDB oracle.

The reference is batch-only (SURVEY §2.11). The jobs run incrementally
through the lineage anti-join in plans/lineage.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + value sums per event_type (decimal-exact
    sums)."""
    return (
        events.groupBy(
            F.window("ts", window).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
