"""Streaming rollup — the watermarked windowed count that Verum's
"minions" (daemon threads polling a feed, [R minions/*,
verum/__init__.py::app.start_minions — reconstructed, SURVEY.md Table A
N1]) would feed at Spark scale. The same operator runs on a batch
DataFrame, which is how the driver contract (n1) exercises it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_edge_counts(
    events: DataFrame,
    time_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts — the late-data-tolerant rollup
    for streaming feeds (B.8). The watermark bounds state: windows older
    than (max event time - watermark) are finalized and dropped from the
    store, so state size is O(keys x windows-in-watermark), not O(stream).
    Works identically on a batch DataFrame (watermark is a no-op there),
    which is how the deterministic test asserts the windowing math.
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
        )
    )
