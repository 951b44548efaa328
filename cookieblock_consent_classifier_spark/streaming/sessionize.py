"""Structured-Streaming twin of the batch gap sessionization
(operators/temporal.py sessionize).

The reference is batch-only (SURVEY §2.9); the north rule's
generalization adds unbounded event streams: ``F.session_window``
with a watermark gives gap-based sessions with late-data handling and
incremental state cleanup — the streaming-native formulation of the
same semantics (sessions close when no event arrives within ``gap``;
watermark bounds how late an event may still extend a session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_sessionize(
    stream: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """events stream → one row per closed (entity, session) window
    with its event count.

    Works identically on a batch DataFrame (session_window is
    batch-compatible), which is how the parity test pins streaming
    output == batch sessionize output.
    """
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC
    # so the cast is value-preserving
    base = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if base.isStreaming:
        base = base.withWatermark(ts_col, watermark)
    window = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    return (
        base.groupBy(F.col(entity_col), window)
        .agg(F.count("*").alias("n_events"))
        .select(
            entity_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
