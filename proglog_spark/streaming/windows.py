"""Streaming windowed aggregation with watermarks.

The reference has no event time at all (no timestamp in its record —
SURVEY.md §2.0b), so late-data semantics are pure extension surface:
tumbling counts over ``events.ts`` with a watermark bounding state.
The bucket arithmetic matches the batch twin
(``operators.windows.tumbling_counts``) so stream results converge to
the batch answer once the watermark passes — asserted by the parity
test in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_tumbling_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    width_seconds: int = 3600,
    group_cols: Sequence[str] = ("event_type",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling counts; output bucket = floor(epoch/width)
    (BIGINT), aligned with the batch twin for parity checks.

    State is bounded by the watermark: windows older than it are
    finalized and evicted — the knob the reference's unbounded
    busy-poll tail lacks entirely.
    """
    win = F.window(F.col(ts_col), f"{width_seconds} seconds")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.floor(F.col("w.start").cast("long") / width_seconds)
            .cast("long")
            .alias("bucket"),
            *group_cols,
            "n_events",
        )
    )
