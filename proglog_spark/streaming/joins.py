"""Stream-stream time-bounded joins.

The reference cannot join at all, let alone two live feeds; Spark's
stream-stream join is the scale-correct primitive: both sides are
watermarked, the join condition carries an explicit event-time bound,
and the state store retains only rows inside the bound — state is
(watermark horizon × arrival rate), not the stream so far.

``streaming_attribution_join`` is the streaming twin of
``operators/joins.range_join``'s declared use (events in the hour
before each purchase): candidates × anchors on the same key with
``anchor_ts - window <= t < anchor_ts``. Batch/stream parity is
asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_attribution_join(
    candidates: DataFrame,
    anchors: DataFrame,
    candidate_key: str,
    anchor_key: str,
    candidate_ts: str,
    anchor_ts: str,
    window_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Inner-join two streams: each candidate row to every anchor row
    with the same key whose window ``[anchor_ts - window, anchor_ts)``
    contains the candidate's time.

    Column names must be disjoint (pre-alias for self-feeds). The
    time bound makes the join state finite; ``watermark`` additionally
    bounds how late either side may arrive. Output carries all columns
    of both inputs and appends eagerly on match (inner join).
    """
    clash = set(candidates.columns) & set(anchors.columns)
    if clash:
        raise ValueError(f"candidate/anchor column names must be disjoint: {clash}")
    c = candidates.withWatermark(candidate_ts, watermark)
    a = anchors.withWatermark(anchor_ts, watermark)
    cond = (
        (F.col(candidate_key) == F.col(anchor_key))
        & (
            F.col(candidate_ts)
            >= F.col(anchor_ts) - F.expr(f"INTERVAL {int(window_seconds)} SECONDS")
        )
        & (F.col(candidate_ts) < F.col(anchor_ts))
    )
    return c.join(a, cond, "inner")


def streaming_outer_attribution_join(
    anchors: DataFrame,
    candidates: DataFrame,
    anchor_key: str,
    candidate_key: str,
    anchor_ts: str,
    candidate_ts: str,
    window_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream join, anchors preserved: every anchor
    row eventually emits — joined to each in-window candidate if any
    arrived, else exactly once NULL-extended.

    The outer semantics are what attribution/funnel jobs actually
    need ("purchases with NO preceding touch" is the interesting
    cohort), and they are only well-defined because BOTH sides are
    watermarked and the condition carries the event-time bound: an
    unmatched anchor's NULL row is emitted when the watermark passes
    the end of its candidate window — i.e. when no matching candidate
    can still arrive — and its state is dropped at that same point.
    State stays (watermark horizon x arrival rate), exactly as in the
    inner variant; the NULL rows are late by one watermark, which is
    the price of correctness (emitting earlier could double-answer).

    Column names must be disjoint. Matched pairs emit eagerly; only
    the NULL extensions wait for the watermark.
    """
    clash = set(anchors.columns) & set(candidates.columns)
    if clash:
        raise ValueError(f"anchor/candidate column names must be disjoint: {clash}")
    a = anchors.withWatermark(anchor_ts, watermark)
    c = candidates.withWatermark(candidate_ts, watermark)
    cond = (
        (F.col(anchor_key) == F.col(candidate_key))
        & (
            F.col(candidate_ts)
            >= F.col(anchor_ts) - F.expr(f"INTERVAL {int(window_seconds)} SECONDS")
        )
        & (F.col(candidate_ts) < F.col(anchor_ts))
    )
    return a.join(c, cond, "leftOuter")


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: a live stream against a batch
    dimension table (the lookup-table pattern — user profiles, ACL
    subjects, server metadata).

    Stateless by construction: Spark re-evaluates the static side per
    micro-batch (picking up dim-table refreshes on file sources) and
    plans a BroadcastHashJoin when the dim is small — no streaming
    state store, no watermark needed. The dim side must be the
    non-stream side; only stateless join types are allowed here
    (inner / left_outer with the stream on the left), which is exactly
    what Structured Streaming supports for stream-static joins.
    """
    if dim.isStreaming:
        raise ValueError("dim must be a static DataFrame")
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"stream-static join supports inner/left, got {how}")
    # no forced broadcast hint: the dim side GROWS with real
    # deployments (user profiles at fleet scale), and a forced hint
    # overrides Spark's size check — the same OOM shape the batch
    # queries dropped in the r2 hint audit. AQE/autoBroadcastJoin
    # picks broadcast automatically whenever the dim is actually small.
    return stream.join(dim, on, how)
