"""Streaming window aggregations (SURVEY §2.8).

The reference has no streaming operators; its incremental
file-at-a-time ingestion (consolidate_invoices.py:235-240) is the
batch shadow of a Structured Streaming file source. This module is
the engine's streaming surface: event-time tumbling/sliding windows
with watermarks for late data, usable identically on batch and
streaming DataFrames (Spark's unified semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Event-time tumbling window counts/sums with a watermark.

    On a streaming DataFrame the watermark bounds state: windows older
    than (max event time − watermark) are finalized and dropped from
    the state store — mandatory for an unbounded 100 TB/day stream.
    On a batch DataFrame the same code runs with the watermark ignored.
    """
    streaming = df.isStreaming
    with_wm = df.withWatermark(ts_col, watermark) if streaming else df
    return (
        with_wm.groupBy(F.window(F.col(ts_col), window), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Sliding window variant — each event lands in window/slide panes."""
    streaming = df.isStreaming
    with_wm = df.withWatermark(ts_col, watermark) if streaming else df
    return (
        with_wm.groupBy(F.window(F.col(ts_col), window, slide), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n",
            "sum_value",
        )
    )
