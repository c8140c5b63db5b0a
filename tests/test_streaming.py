"""The watermarked windowed rollup (engine/streaming.py) in batch mode."""

from pyspark.sql import functions as F


def test_windowed_counts_with_watermark(spark):
    """Deterministic check of the windowing math (batch mode — watermark is
    a no-op there; streaming-mode state bounding is Spark's contract)."""
    from engine.streaming import windowed_edge_counts

    rows = [
        (0, "click", 0.0), (1, "click", 120.0), (2, "view", 540.0),
        (3, "click", 660.0), (4, "view", 1900.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, t double").select(
        "event_id", "event_type", F.timestamp_seconds("t").alias("ts")
    )
    got = {
        (r.window_start.minute, r.event_type): r.n
        for r in windowed_edge_counts(ev, window="10 minutes").collect()
    }
    assert got == {(0, "click"): 2, (0, "view"): 1, (10, "click"): 1, (30, "view"): 1}
