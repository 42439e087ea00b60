"""Streaming tests — mirror the reference's liveness/ordering
assertions: the blocking-tail test (a consumer subscribed before a
produce receives it, server_test.go:247-284), per-batch offset acks
(ProduceStream, server_test.go:212-245), and batch/stream parity for
the windowed aggregation extension.
"""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F

from proglog_spark import LogTable
from proglog_spark.operators.windows import sessionize, tumbling_counts
from proglog_spark.sources.tables import load_table
from proglog_spark.streaming import (
    produce_stream,
    streaming_sessionize,
    streaming_tumbling_counts,
    tail_follow,
)


def _drain(query, timeout=60):
    query.processAllAvailable()


def test_tail_follow_receives_later_appends(spark, tmp_path):
    """Subscribe first, then append — the tail must deliver both the
    backlog and the post-subscription batch, in offset order."""
    log = LogTable.create(spark, str(tmp_path / "log"), bucket_size=8)
    log.append(["a", "b", "c"])

    seen: list[tuple[int, str]] = []
    q = tail_follow(
        log,
        from_offset=1,
        on_batch=lambda rows: seen.extend((r.offset, r.value) for r in rows),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        _drain(q)
        assert seen == [(1, "b"), (2, "c")]
        log.append(["d", "e"])  # produced AFTER subscription
        _drain(q)
        assert seen == [(1, "b"), (2, "c"), (3, "d"), (4, "e")]
    finally:
        q.stop()


def test_produce_stream_assigns_dense_offsets(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    for i, batch in enumerate([["x", "y"], ["z"]]):
        spark.createDataFrame([(v,) for v in batch], "value STRING").write.mode(
            "append"
        ).parquet(str(src_dir))
    log = LogTable.create(spark, str(tmp_path / "log"), bucket_size=8)
    acks: list[tuple[int, int, int]] = []
    source = spark.readStream.schema("value STRING").parquet(str(src_dir))
    q = produce_stream(
        source,
        log,
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_ack=lambda b, first, last: acks.append((b, first, last)),
    )
    try:
        _drain(q)
    finally:
        q.stop()
    assert log.count() == 3
    offs = sorted(r.offset for r in log.reader().collect())
    assert offs == [0, 1, 2]
    assert sum(last - first + 1 for _, first, last in acks) == 3


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    """Stream the events fixture through the watermarked tumbling agg;
    final counts must equal the batch twin (convergence parity)."""
    events = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "events_stream")
    events.write.parquet(stream_dir)

    stream = spark.readStream.schema(events.schema).parquet(stream_dir)
    agg = streaming_tumbling_counts(stream, "ts", 3600, ["event_type"])
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_tumbling")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        got = {
            (r.bucket, r.event_type): r.n_events
            for r in spark.sql("SELECT * FROM stream_tumbling").collect()
        }
    finally:
        q.stop()
    want = {
        (r.bucket, r.event_type): r.n_events
        for r in tumbling_counts(events, "ts", 3600, ["event_type"]).collect()
    }
    assert got == want


def test_streaming_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """Stateful sessionization (applyInPandasWithState) must emit, for
    every fixture user, exactly the sessions the batch lag+cumsum twin
    computes — closed mid-batch sessions immediately, open ones via
    event-time timeout once sentinel batches push the watermark past
    their gap."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    stream_dir = tmp_path / "sess_stream"
    events.write.parquet(str(stream_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(stream_dir))
    q = (
        streaming_sessionize(stream, gap_seconds=1800, watermark="1 minute")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        # two sentinel batches for one synthetic user: the first pushes
        # the watermark past every fixture session's end+gap, the
        # second triggers a batch in which those timeouts actually fire
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        for days in (30, 60):
            spark.createDataFrame(
                [(999_999_999, max_ts + __import__("datetime").timedelta(days=days))],
                "user_id long, ts timestamp",
            ).write.mode("append").parquet(str(stream_dir))
            _drain(q)
        got = {
            (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in spark.sql(
                "SELECT * FROM stream_sessions WHERE user_id != 999999999"
            ).collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(
            load_table(spark, sf_dir, "events"), "user_id", "ts", 1800
        ).collect()
    }
    assert got == want


def test_streaming_sessionize_cross_batch_out_of_order(spark, tmp_path):
    """An in-watermark event arriving in a LATER batch and OLDER than
    the open session must sessionize exactly (own earlier session
    here), not be absorbed into the newer session — review finding."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "ooo_src"

    def write(rows):
        spark.createDataFrame(rows, "user_id long, ts timestamp").write.mode(
            "append"
        ).parquet(str(src))

    write([(1, t0)])  # batch 1: 12:00
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    q = (
        streaming_sessionize(stream, gap_seconds=1800, watermark="6 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ooo_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        # batch 2: 08:00 — older than the open 12:00 session but well
        # inside the 6h watermark; must become its OWN earlier session
        write([(1, t0 - dt.timedelta(hours=4))])
        _drain(q)
        for days in (30, 60):  # sentinels advance watermark, fire timeouts
            write([(9, t0 + dt.timedelta(days=days))])
            _drain(q)
        got = sorted(
            (r.session_start_us, r.session_end_us, r.n_events)
            for r in spark.sql(
                "SELECT * FROM ooo_sessions WHERE user_id = 1"
            ).collect()
        )
    finally:
        q.stop()
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    assert got == [
        (us(t0 - dt.timedelta(hours=4)), us(t0 - dt.timedelta(hours=4)), 1),
        (us(t0), us(t0), 1),
    ]


def test_streaming_dedup_by_offset_drops_replayed_batch(spark, tmp_path):
    """Replicator re-delivery (replicator.go:43-87: full re-copy on
    rejoin): a second batch replaying earlier offsets must emit
    nothing new; fresh offsets still pass."""
    from proglog_spark.streaming.dedup import dedup_stream

    stream_dir = str(tmp_path / "feed")

    def feed(rows):
        spark.createDataFrame(
            [(o, v, 0, 1, f"2024-01-01 10:{m:02d}:00") for o, v, m in rows],
            "offset long, value string, term long, type int, et string",
        ).select(
            "offset", "value", "term", "type",
            F.col("et").cast("timestamp").alias("event_time"),
        ).write.mode("append").parquet(stream_dir)

    feed([(0, "a", 0), (1, "b", 1), (2, "c", 2)])
    src = spark.readStream.schema(
        "offset long, value string, term long, type int, event_time timestamp"
    ).parquet(stream_dir)
    q = (
        dedup_stream(src, by="offset", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_offset")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        feed([(1, "b", 1), (2, "c", 2), (3, "d", 3), (4, "e", 4)])  # replay + new
        _drain(q)
        got = sorted(
            r.offset for r in spark.sql("SELECT offset FROM dedup_offset").collect()
        )
    finally:
        q.stop()
    assert got == [0, 1, 2, 3, 4]


def test_streaming_dedup_by_content_drops_producer_retries(spark, tmp_path):
    """Producer retry: same payload re-appended under a new offset is
    one logical record; distinct payloads all pass."""
    from proglog_spark.streaming.dedup import dedup_stream

    stream_dir = str(tmp_path / "feed")
    spark.createDataFrame(
        [
            (0, "x", 0, 1, "2024-01-01 10:00:00"),
            (1, "x", 0, 1, "2024-01-01 10:00:05"),  # retry, new offset
            (2, "y", 0, 1, "2024-01-01 10:00:10"),
            (3, "x", 2, 1, "2024-01-01 10:00:15"),  # same value, different term
        ],
        "offset long, value string, term long, type int, et string",
    ).select(
        "offset", "value", "term", "type",
        F.col("et").cast("timestamp").alias("event_time"),
    ).write.parquet(stream_dir)

    src = spark.readStream.schema(
        "offset long, value string, term long, type int, event_time timestamp"
    ).parquet(stream_dir)
    q = (
        dedup_stream(src, by="content", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_content")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        vals = sorted(
            (r.value, r.term)
            for r in spark.sql("SELECT value, term FROM dedup_content").collect()
        )
    finally:
        q.stop()
    assert vals == [("x", 0), ("x", 2), ("y", 0)]


def test_continuous_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Feed events in two appends; the materialized rollup must equal
    the batch tumbling counts over everything fed — including buckets
    UPDATED by the second batch, not just appended ones."""
    from proglog_spark.streaming.rollup import continuous_rollup, read_rollup

    events = load_table(spark, sf_dir, "events")
    first = events.where(F.col("event_id") % 2 == 0)
    second = events.where(F.col("event_id") % 2 == 1)  # same time range -> updates
    feed_dir = str(tmp_path / "feed")
    first.write.mode("append").parquet(feed_dir)

    stream = spark.readStream.schema(events.schema).parquet(feed_dir)
    q = continuous_rollup(
        stream,
        "ts",
        3600,
        ["event_type"],
        rollup_path=str(tmp_path / "rollup"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="365 days",
    )
    try:
        _drain(q)
        second.write.mode("append").parquet(feed_dir)
        _drain(q)
    finally:
        q.stop()

    got = {
        (r.bucket, r.event_type): r.n_events
        for r in read_rollup(spark, str(tmp_path / "rollup")).collect()
    }
    want = {
        (r.bucket, r.event_type): r.n_events
        for r in tumbling_counts(events, "ts", 3600, ["event_type"]).collect()
    }
    assert got == want


def test_stream_stream_attribution_matches_batch_range_join(spark, sf_dir, tmp_path):
    """Stream-stream time-bounded join == the batch bucketized
    range_join on the same data (attribution pairs), fed across two
    appends so the second batch must match against first-batch state."""
    from proglog_spark.operators.joins import range_join
    from proglog_spark.streaming.joins import streaming_attribution_join

    e = load_table(spark, sf_dir, "events")
    cands_b = e.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    anch_b = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c_dir, a_dir = str(tmp_path / "cands"), str(tmp_path / "anchors")
    # two appends each: exercises cross-batch join state
    cands_b.where(F.col("c_id") % 2 == 0).write.mode("append").parquet(c_dir)
    anch_b.write.mode("append").parquet(a_dir)

    cs = spark.readStream.schema(cands_b.schema).parquet(c_dir)
    as_ = spark.readStream.schema(anch_b.schema).parquet(a_dir)
    joined = streaming_attribution_join(
        cs, as_, "c_user", "p_user", "c_ts", "p_ts", 3600, watermark="365 days"
    )
    q = (
        joined.select("c_id", "p_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_attr")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        cands_b.where(F.col("c_id") % 2 == 1).write.mode("append").parquet(c_dir)
        _drain(q)
        got = {
            (r.c_id, r.p_id)
            for r in spark.sql("SELECT * FROM ss_attr").collect()
        }
    finally:
        q.stop()

    iv = anch_b.select(
        "p_id", "p_user",
        (F.col("p_ts") - F.expr("INTERVAL 1 HOUR")).alias("ws"),
        F.col("p_ts").alias("we"),
    )
    want = {
        (r.c_id, r.p_id)
        for r in range_join(cands_b, iv, "c_user", "p_user", "c_ts", "ws", "we", 3600)
        .select("c_id", "p_id")
        .collect()
    }
    assert got == want and got


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment == the batch left join, fed
    across two appends; the dim misses one key so the left-outer NULL
    path is exercised too."""
    from proglog_spark.streaming.joins import enrich_stream

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    # static dim derived from the data, minus one key -> NULL enrich
    dim = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_freq"))
        .orderBy("event_type")
        .limit(3)
    )
    batch = {
        (r.event_id, r.type_freq)
        for r in e.join(dim, "event_type", "left")
        .select("event_id", "type_freq")
        .collect()
    }

    s_dir = str(tmp_path / "stream")
    e.where(F.col("event_id") % 2 == 0).write.mode("append").parquet(s_dir)
    stream = spark.readStream.schema(e.schema).parquet(s_dir)
    q = (
        enrich_stream(stream, dim, "event_type", "left")
        .select("event_id", "type_freq")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        e.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(s_dir)
        _drain(q)
        got = {
            (r.event_id, r.type_freq)
            for r in spark.sql("SELECT * FROM enriched").collect()
        }
    finally:
        q.stop()
    assert got == batch
    assert any(f is None for _id, f in got)  # unmatched key enriched as NULL


def test_enrich_stream_rejects_streaming_dim(spark, sf_dir, tmp_path):
    from proglog_spark.streaming.joins import enrich_stream

    e = load_table(spark, sf_dir, "events")
    s_dir = str(tmp_path / "s")
    e.limit(1).write.parquet(s_dir)
    stream = spark.readStream.schema(e.schema).parquet(s_dir)
    with pytest.raises(ValueError):
        enrich_stream(stream, stream, "event_id")


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Watermark contract (the late-data bound the reference's
    busy-poll tail lacks entirely): in append mode a tumbling window is
    emitted once the watermark passes it, and a row arriving later
    than the watermark allows is DROPPED, not merged.

    Feed: batch 1 has hours 0 and 10 (watermark advances to 10:00-1h);
    batch 2 replays an hour-0 row (too late: window end 01:00 <
    watermark 09:00) plus a fresh hour-11 row. The late row must not
    re-open or re-emit the hour-0 window."""
    from proglog_spark.streaming.windows import streaming_tumbling_counts

    s_dir = str(tmp_path / "late")
    schema = "ts TIMESTAMP, event_type STRING"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(s_dir)

    import datetime as dt

    h = lambda k, m=0: dt.datetime(2026, 1, 1, k, m)  # noqa: E731
    write([(h(0), "a"), (h(0, 30), "a"), (h(10), "a")])

    stream = spark.readStream.schema(schema).parquet(s_dir)
    agg = streaming_tumbling_counts(stream, "ts", 3600, ["event_type"], "1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        write([(h(0, 45), "a"), (h(11), "a")])  # late replay + fresh row
        _drain(q)
        # one more empty-ish advance so the 10:00 window can finalize
        write([(h(12), "a")])
        _drain(q)
        got = {
            (r.bucket, r.n_events)
            for r in spark.sql("SELECT * FROM late_test").collect()
        }
    finally:
        q.stop()

    base = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()) // 3600
    # hour-0 window emitted with batch-1 count only (2) — the late
    # 00:45 row was dropped; hour-10 emitted once the watermark passed
    # its end. Hour-11/12 stay OPEN (watermark reached 11:00, < their
    # ends) — append mode holds them back, which is itself the
    # finalize-once contract under test.
    assert (base, 2) in got
    assert (base, 3) not in got
    assert (base + 10, 1) in got
    assert (base + 11, 1) not in got


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched anchors emit eagerly;
    an anchor with no in-window candidate emits its NULL-extended row
    only after the watermark passes the end of its candidate window
    (and exactly once)."""
    from proglog_spark.streaming.joins import streaming_outer_attribution_join

    a_dir, c_dir = str(tmp_path / "anchors"), str(tmp_path / "cands")
    a_schema = "p_id LONG, p_user LONG, p_ts TIMESTAMP"
    c_schema = "c_id LONG, c_user LONG, c_ts TIMESTAMP"

    def w(path, schema, rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(path)

    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    # p1 has a candidate 30 min before; p2 has none
    w(a_dir, a_schema, [(1, 100, t(10)), (2, 200, t(10))])
    w(c_dir, c_schema, [(11, 100, t(9, 30))])

    joined = streaming_outer_attribution_join(
        spark.readStream.schema(a_schema).parquet(a_dir),
        spark.readStream.schema(c_schema).parquet(c_dir),
        "p_user", "c_user", "p_ts", "c_ts",
        3600, watermark="10 minutes",
    )
    q = (
        joined.select("p_id", "c_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_outer")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        got = {(r.p_id, r.c_id) for r in spark.sql("SELECT * FROM ss_outer").collect()}
        assert (1, 11) in got  # eager match
        assert (2, None) not in got  # watermark hasn't passed p2's window yet

        # advance both watermarks well past p2's window, then one more
        # batch so eviction results land in the sink
        w(a_dir, a_schema, [(3, 300, t(14))])
        w(c_dir, c_schema, [(12, 300, t(14, 30))])
        _drain(q)
        w(a_dir, a_schema, [(4, 400, t(15))])
        w(c_dir, c_schema, [(13, 400, t(15, 30))])
        _drain(q)
        rows = [(r.p_id, r.c_id) for r in spark.sql("SELECT * FROM ss_outer").collect()]
    finally:
        q.stop()

    assert rows.count((2, None)) == 1  # exactly-once NULL extension
    assert (1, 11) in rows


def test_cdc_stream_applies_latest_per_key(spark, tmp_path):
    """Streaming CDC apply: per-batch latest-per-key reduction, merge
    into the bucketed table, idempotent under replay."""
    from proglog_spark.sources.upsert import KeyedTable
    from proglog_spark.streaming.cdc import apply_cdc_stream, latest_per_key

    schema = "k LONG, v STRING, seq LONG"
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)], schema
    )
    table = KeyedTable.create(
        spark, str(tmp_path / "table"), base, "k", n_buckets=4
    )

    feed = str(tmp_path / "feed")
    # batch 1: update k=1 twice (seq decides), insert k=4
    spark.createDataFrame(
        [(1, "a1", 1), (1, "a2", 2), (4, "d", 1)], schema
    ).write.mode("append").parquet(feed)

    q = apply_cdc_stream(
        spark.readStream.schema(schema).parquet(feed),
        table,
        order_col="seq",
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        _drain(q)
        got = {r.k: r.v for r in table.df().select("k", "v").collect()}
        assert got == {1: "a2", 2: "b", 3: "c", 4: "d"}

        # batch 2: delete-as-tombstone-free update + another insert
        spark.createDataFrame(
            [(2, "b9", 7), (5, "e", 1)], schema
        ).write.mode("append").parquet(feed)
        _drain(q)
        got = {r.k: r.v for r in table.df().select("k", "v").collect()}
        assert got == {1: "a2", 2: "b9", 3: "c", 4: "d", 5: "e"}
    finally:
        q.stop()

    # replay idempotency: re-merging batch 2's reduction is a no-op
    replay = latest_per_key(
        spark.createDataFrame([(2, "b9", 7), (5, "e", 1)], schema), "k", "seq"
    )
    table.merge(replay)
    got = {r.k: r.v for r in table.df().select("k", "v").collect()}
    assert got == {1: "a2", 2: "b9", 3: "c", 4: "d", 5: "e"}
    assert table.df().count() == 5


def test_streaming_anomaly_matches_batch_twin(spark, sf_dir, tmp_path):
    """Stateful trailing-mean anomaly == the batch RANGE-frame query on
    the same data, fed as two chronological micro-batches (the second
    batch's early windows must reach back into first-batch state)."""
    from proglog_spark.queries import REGISTRY
    from proglog_spark.streaming.anomaly import streaming_trailing_anomaly

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    mid = e.agg(
        F.timestamp_micros(
            ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2
             ).cast("long")
        ).alias("m")
    ).collect()[0].m

    feed = str(tmp_path / "feed")
    e.where(F.col("ts") <= F.lit(mid)).write.mode("append").parquet(feed)

    q = (
        streaming_trailing_anomaly(
            spark.readStream.schema(e.schema).parquet(feed)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("anom")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        e.where(F.col("ts") > F.lit(mid)).write.mode("append").parquet(feed)
        _drain(q)
        got = {
            tuple(r)
            for r in spark.sql(
                "SELECT event_id, event_type, value_micro, trail_n, "
                "trail_sum_micro FROM anom"
            ).collect()
        }
    finally:
        q.stop()

    want = {
        tuple(r)
        for r in REGISTRY["events_trailing_anomaly"][0](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_cdc_checkpoint_restart_resumes_without_reapply(spark, tmp_path):
    """Stop the CDC query, start a NEW query on the same checkpoint:
    it must resume at the next batch — already-committed batches are
    not re-read — and continue applying new changes."""
    from proglog_spark.sources.upsert import KeyedTable
    from proglog_spark.streaming.cdc import apply_cdc_stream

    schema = "k LONG, v STRING, seq LONG"
    table = KeyedTable.create(
        spark,
        str(tmp_path / "table"),
        spark.createDataFrame([(1, "a", 0)], schema),
        "k",
        n_buckets=2,
    )
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "a1", 1)], schema).write.mode("append").parquet(feed)

    def start():
        return apply_cdc_stream(
            spark.readStream.schema(schema).parquet(feed),
            table, order_col="seq", checkpoint=ckpt,
        )

    q = start()
    try:
        _drain(q)
    finally:
        q.stop()
    assert {r.k: r.v for r in table.df().select("k", "v").collect()} == {1: "a1"}

    # new data lands while no query is running
    spark.createDataFrame([(2, "b", 1)], schema).write.mode("append").parquet(feed)
    q2 = start()
    try:
        _drain(q2)
        got = {r.k: r.v for r in table.df().select("k", "v").collect()}
    finally:
        q2.stop()
    assert got == {1: "a1", 2: "b"}
    # no duplicate keys from any batch re-application
    assert table.df().count() == 2


def test_tail_follow_rate_limit_stays_ordered_and_chunked(spark, tmp_path):
    """Under a file-source rate limit, file pickup order is NOT offset
    order — delivery must still be strict, gap-free offset order
    (cursor-driven scans), in chunks bounded by chunk_records."""
    log = LogTable.create(
        spark, str(tmp_path / "log"), bucket_size=1000, max_records_per_file=1
    )
    log.append([f"r{i}" for i in range(8)])  # 8 single-record files

    batches = []
    q = tail_follow(
        log,
        from_offset=0,
        on_batch=lambda rows: batches.append([r.offset for r in rows]),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        chunk_records=3,
    )
    try:
        _drain(q)
    finally:
        q.stop()
    flat = [o for b in batches for o in b]
    assert flat == list(range(8))  # strict order, no gaps, no dups
    assert all(len(b) <= 3 for b in batches)  # driver memory bound
    assert len(batches) >= 3


@pytest.mark.parametrize("mode", ["exact", "sketch"])
def test_continuous_distinct_rollup_parity_and_replay(spark, sf_dir, tmp_path, mode):
    """Distinct-count rollup via mergeable structures: after two
    overlapping appends the materialized table answers per-bucket
    distinct users (exactly in bitmap mode, within 5% in HLL mode) —
    and a FULL REPLAY from batch zero into the existing table changes
    nothing, because OR/HLL-union merges are idempotent (the
    at-least-once ⇒ exactly-once argument, exercised for real)."""
    from proglog_spark.streaming.distinct import (
        continuous_distinct_rollup,
        read_distinct_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    first = events.where(F.col("event_id") % 2 == 0)
    second = events.where(F.col("event_id") % 2 == 1)  # same buckets -> merges
    feed_dir = str(tmp_path / "feed")
    first.write.mode("append").parquet(feed_dir)

    rollup_path = str(tmp_path / "rollup")

    def run(ckpt):
        stream = spark.readStream.schema(events.schema).parquet(feed_dir)
        q = continuous_distinct_rollup(
            stream, "ts", 86400, ["event_type"], "user_id",
            rollup_path=rollup_path, checkpoint_dir=str(tmp_path / ckpt),
            mode=mode,
        )
        try:
            _drain(q)
        finally:
            q.stop()

    run("ckpt1")
    second.write.mode("append").parquet(feed_dir)
    run("ckpt1")

    def counts():
        return {
            (r.bucket, r.event_type): r.n_distinct
            for r in read_distinct_rollup(
                spark, rollup_path, ["event_type"], mode=mode
            ).collect()
        }

    got = counts()
    want = {
        (r.bucket, r.event_type): r.n
        for r in events.groupBy(
            (F.unix_timestamp("ts") / 86400).cast("long").alias("bucket"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k, n in want.items():
        if mode == "exact":
            assert got[k] == n
        else:
            assert abs(got[k] - n) <= max(1, 0.05 * n)

    # replay: fresh checkpoint re-feeds EVERY batch into the existing
    # table; idempotent merges must leave the answers unchanged
    run("ckpt2")
    assert counts() == got


def test_inactivity_alerts_fire_on_watermark_not_on_data(spark, tmp_path):
    """Event-time timers: a key with NO new input must alert once the
    watermark (advanced by OTHER keys' events) passes last_seen + gap;
    keys that keep producing slide their deadline instead. Three
    batches: A,B at t0 -> A again at t0+2h (B goes quiet -> B alerts
    at t0+1h) -> C at t0+5h (A quiet since t0+2h -> A alerts at
    t0+3h; C's own timer still pending).

    transformWithState's worker protocol needs the protobuf package
    at runtime; without it only plan construction is checked."""
    from proglog_spark.streaming.stateful import inactivity_alerts

    try:
        from google.protobuf import descriptor  # noqa: F401
        runtime_ok = True
    except ImportError:
        runtime_ok = False

    t0 = 1_700_000_000_000  # epoch ms
    hour = 3_600_000
    feed = str(tmp_path / "feed")
    schema = "user_id long, ts timestamp"

    def emit(rows):
        spark.createDataFrame(rows, "user_id long, ms long").select(
            "user_id", F.timestamp_millis("ms").alias("ts")
        ).write.mode("append").parquet(feed)

    emit([(1, t0), (2, t0)])
    stream = spark.readStream.schema(schema).parquet(feed)
    alerts = inactivity_alerts(stream, "user_id", "ts", gap_seconds=3600)
    # analysis always works (plan-level contract, no protobuf needed)
    assert [f.name for f in alerts.schema.fields] == [
        "k", "last_seen_ms", "deadline_ms"
    ]
    if not runtime_ok:
        pytest.skip("protobuf not installed: transformWithState worker cannot run")
    name = "inactivity_alerts_sink"
    q = (
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        got = {(r.k, r.deadline_ms) for r in spark.table(name).collect()}
        assert got == set()  # watermark still at t0: nothing expired

        emit([(1, t0 + 2 * hour)])
        _drain(q)
        got = {(r.k, r.deadline_ms) for r in spark.table(name).collect()}
        assert got == {(2, t0 + hour)}  # B silent; A slid its deadline

        emit([(3, t0 + 5 * hour)])
        _drain(q)
        got = {(r.k, r.deadline_ms) for r in spark.table(name).collect()}
        assert got == {(2, t0 + hour), (1, t0 + 2 * hour + hour)}
        rows = {r.k: r.last_seen_ms for r in spark.table(name).collect()}
        assert rows == {2: t0, 1: t0 + 2 * hour}
    finally:
        q.stop()


def test_derive_log_chain_filters_and_survives_restart(spark, tmp_path):
    """Log -> transform -> log topology: the derived log holds exactly
    the transformed survivors in source-offset order with dense
    offsets of its own; appending more to the source extends it; a
    restart on the same checkpoint appends nothing new (replay
    marker)."""
    from proglog_spark.streaming.derive import derive_log

    src = LogTable.create(spark, str(tmp_path / "src"), bucket_size=8)
    dst = LogTable.create(spark, str(tmp_path / "dst"), bucket_size=8)
    src.append([f"v{i}" for i in range(10)])

    def transform(stream):
        return stream.where(F.col("offset") % 2 == 0).select(
            F.upper("value").alias("value"),
            F.col("offset").alias("term"),  # carry source order
            F.lit(0).alias("type"),
        )

    def run():
        q = derive_log(
            src, dst, transform, str(tmp_path / "ckpt"), order_by=["term"]
        )
        try:
            _drain(q)
        finally:
            q.stop()

    run()
    got = [(r.offset, r.value, r.term) for r in dst.reader().orderBy("offset").collect()]
    assert got == [(i, f"V{2 * i}", 2 * i) for i in range(5)]

    src.append([f"v{i}" for i in range(10, 14)])
    run()
    got = [(r.offset, r.value, r.term) for r in dst.reader().orderBy("offset").collect()]
    assert got == [(i, f"V{2 * i}", 2 * i) for i in range(7)]

    run()  # pure restart, no new source data -> no duplicates
    assert dst.count() == 7


def test_streaming_asof_matches_batch(spark, sf_dir, tmp_path):
    """The stream-stream as-of join must emit, for every fixture
    event, exactly the batch asof_join's match (latest order
    at-or-before, max-orderkey ties) once sentinels seal the anchors."""
    from proglog_spark.operators import joins
    from proglog_spark.streaming.asof import streaming_asof_join

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    a_dir, c_dir = tmp_path / "anchors", tmp_path / "cands"
    events.write.parquet(str(a_dir))
    orders.write.parquet(str(c_dir))

    a_stream = spark.readStream.schema(events.schema).parquet(str(a_dir))
    c_stream = spark.readStream.schema(orders.schema).parquet(str(c_dir))
    joined = streaming_asof_join(
        a_stream.withColumnRenamed("user_id", "k"),
        c_stream.withColumnRenamed("o_custkey", "k"),
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        left_id="event_id",
        tie_break="o_orderkey",
        value_cols=["o_totalprice"],
        watermark="1 minute",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_streamed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        # sentinel CANDIDATES (produce no output rows) advance the
        # watermark past every anchor; second batch fires the timers
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        for days in (30, 60):
            spark.createDataFrame(
                [
                    (
                        999_999_999,
                        max_ts + __import__("datetime").timedelta(days=days),
                        0,
                        0.0,
                    )
                ],
                "k long, o_orderdate timestamp, o_orderkey long, o_totalprice double",
            ).write.mode("append").parquet(str(c_dir))
            _drain(q)
        got = {
            (r.left_id, r.right_tie, r.o_totalprice)
            for r in spark.table("asof_streamed").collect()
        }
    finally:
        q.stop()
    want = {
        (r.event_id, r.asof_orderkey, r.asof_totalprice)
        for r in joins.asof_join(
            events.withColumnRenamed("user_id", "o_custkey"),
            orders.select(
                "o_custkey",
                "o_orderdate",
                F.col("o_orderkey").alias("asof_orderkey"),
                F.col("o_totalprice").alias("asof_totalprice"),
            ),
            on="o_custkey",
            left_time="ts",
            right_time="o_orderdate",
            tie_break="asof_orderkey",
        ).collect()
    }
    assert got == want


def test_streaming_asof_late_candidate_ties_and_nulls(spark, tmp_path):
    """Ordering edge cases: a candidate arriving in a LATER batch but
    before a pending anchor's time must be its match; equal-time
    candidates break on max tie; exact time equality IS admitted; an
    anchor with no preceding candidate emits NULLs."""
    import datetime as dt

    from proglog_spark.streaming.asof import streaming_asof_join

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    a_dir, c_dir = tmp_path / "a", tmp_path / "c"

    def wa(rows):
        spark.createDataFrame(rows, "k long, lid long, ts timestamp").write.mode(
            "append"
        ).parquet(str(a_dir))

    def wc(rows):
        spark.createDataFrame(
            rows, "k long, ts timestamp, tie long, val double"
        ).write.mode("append").parquet(str(c_dir))

    # batch 1: anchors at 12:00 (k=1) and 12:00 (k=2, never matched);
    # candidates for k=1: two at 11:00 (ties 5 and 7) and one at 12:00
    # (tie 3, exact match — should win over both)
    wa([(1, 100, t0), (2, 200, t0)])
    wc([(1, t0 - dt.timedelta(hours=1), 5, 0.5), (1, t0 - dt.timedelta(hours=1), 7, 0.7)])
    a_stream = spark.readStream.schema("k long, lid long, ts timestamp").parquet(str(a_dir))
    c_stream = spark.readStream.schema(
        "k long, ts timestamp, tie long, val double"
    ).parquet(str(c_dir))
    joined = streaming_asof_join(
        a_stream, c_stream, on="k", left_time="ts", right_time="ts",
        left_id="lid", tie_break="tie", value_cols=["val"], watermark="6 hours",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_edges")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        _drain(q)
        # batch 2 (still inside the 6h watermark): the exact-time
        # candidate arrives AFTER the anchor did — must still win
        wc([(1, t0, 3, 0.3)])
        _drain(q)
        for days in (30, 60):  # sentinels seal the anchors
            wc([(9, t0 + dt.timedelta(days=days), 0, 0.0)])
            _drain(q)
        got = {
            r.left_id: (r.right_tie, r.val)
            for r in spark.table("asof_edges").collect()
        }
    finally:
        q.stop()
    assert got[100] == (3, 0.3)  # exact-time match beats earlier ties
    assert got[200] == (None, None)  # no candidate for k=2


def test_streaming_null_keys_survive_bucketed_state(spark, tmp_path):
    """NULL keys through the BUCKETED engines (the per-key ancestors
    passed NULL through as its own group; a naive int64 ingest of the
    NULL-bucket group would crash on NaN): the sessionizer emits a
    NULL-user session (GROUP BY semantics — NULL is its own group);
    the as-of join emits a NULL-key anchor UNMATCHED and never matches
    a NULL-key candidate (JOIN semantics — NULL equals nothing)."""
    import datetime as dt

    from proglog_spark.streaming import streaming_sessionize
    from proglog_spark.streaming.asof import streaming_asof_join

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    # --- sessionize: one real user, one NULL user ---
    s_dir = tmp_path / "s"
    def ws(rows):
        spark.createDataFrame(rows, "user_id long, ts timestamp").write.mode(
            "append"
        ).parquet(str(s_dir))

    ws([(7, t0), (7, t0 + dt.timedelta(minutes=5)), (None, t0)])
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(s_dir))
    q = (
        streaming_sessionize(stream, gap_seconds=1800, watermark="1 minute")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_nulls")
        .option("checkpointLocation", str(tmp_path / "sck"))
        .start()
    )
    try:
        _drain(q)
        ws([(999, t0 + dt.timedelta(days=30))])  # seal everything
        _drain(q)
        rows = {r.user_id: r.n_events for r in spark.table("sess_nulls").collect()}
    finally:
        q.stop()
    assert rows[7] == 2
    assert rows[None] == 1  # the NULL user's own session, not a crash

    # --- as-of: NULL anchor unmatched; NULL candidate matches nothing ---
    a_dir, c_dir = tmp_path / "a", tmp_path / "c"
    spark.createDataFrame(
        [(None, 100, t0), (1, 200, t0)], "k long, lid long, ts timestamp"
    ).write.mode("append").parquet(str(a_dir))
    spark.createDataFrame(
        [(None, t0 - dt.timedelta(hours=1), 5, 0.5),
         (1, t0 - dt.timedelta(hours=1), 6, 0.6)],
        "k long, ts timestamp, tie long, val double",
    ).write.mode("append").parquet(str(c_dir))
    a_stream = spark.readStream.schema("k long, lid long, ts timestamp").parquet(
        str(a_dir)
    )
    c_stream = spark.readStream.schema(
        "k long, ts timestamp, tie long, val double"
    ).parquet(str(c_dir))
    joined = streaming_asof_join(
        a_stream, c_stream, on="k", left_time="ts", right_time="ts",
        left_id="lid", tie_break="tie", value_cols=["val"], watermark="6 hours",
    )
    q2 = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_nulls")
        .option("checkpointLocation", str(tmp_path / "ack"))
        .start()
    )
    try:
        _drain(q2)
        for days in (30, 60):
            spark.createDataFrame(
                [(9, t0 + dt.timedelta(days=days), 0, 0.0)],
                "k long, ts timestamp, tie long, val double",
            ).write.mode("append").parquet(str(c_dir))
            _drain(q2)
        got = {
            r.left_id: (r.key, r.right_tie)
            for r in spark.table("asof_nulls").collect()
        }
    finally:
        q2.stop()
    assert got[100] == (None, None)  # NULL anchor: emitted, unmatched
    assert got[200] == (1, 6)  # real key unaffected


def test_streaming_heavy_hitters_guarantees_under_compression(spark, tmp_path):
    """MG as streaming state with k SMALL enough that the compress
    step fires: the theorems the hash gate relies on must hold — every
    estimate is an undercount by at most N/(k+1), and any key absent
    from the final summary has true count <= N/(k+1). Also pins the
    bounded-state contract: <= groups * k summary entries."""
    import pandas as pd

    from proglog_spark.streaming.heavy import (
        latest_summaries,
        streaming_heavy_hitters,
    )

    # skewed corpus: two screaming-heavy keys + a long tail, written
    # as several files so the stream sees multiple micro-batches
    rows = (
        [(0, "hot-a")] * 400
        + [(0, "hot-b")] * 300
        + [(0, f"tail-{i}") for i in range(300) for _ in (0, 1)]
    )
    src = str(tmp_path / "keys")
    df = spark.createDataFrame(rows, "part LONG, k STRING")
    df.repartition(6).write.parquet(src)

    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", "2"
    ).parquet(src)
    em = streaming_heavy_hitters(stream, "k", k=16, groups=4)
    q = (
        em.writeStream.outputMode("append")
        .format("memory")
        .queryName("mg_guarantees")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = spark.table("mg_guarantees")
    summary = {
        r["key"]: r["est"] for r in latest_summaries(sunk).collect()
    }
    spark.catalog.dropTempView("mg_guarantees")

    n_total = len(rows)
    slack = n_total // 17  # N/(k+1)
    exact = pd.Series([k for _, k in rows]).value_counts()
    assert len(summary) <= 4 * 16  # bounded state
    assert any(e < exact[k] for k, e in summary.items()), (
        "compression never fired — the test corpus must force it"
    )
    for k, est in summary.items():
        assert 0 < est <= exact[k]
        assert est >= exact[k] - slack
    for k, true in exact.items():
        if k not in summary:
            assert true <= slack, f"absent key {k} above the MG threshold"
    # the screaming-heavy keys are guaranteed present
    assert "hot-a" in summary and "hot-b" in summary


def test_guarded_null_key_sentinel_band(spark):
    """ADVICE r5: the in-band NULL sentinels must fail LOUDLY on
    collision. NULL maps to the sentinel; ordinary keys pass through;
    a REAL key anywhere in the reserved band {LONG_MIN, LONG_MIN+1}
    raises inside the JVM row pipeline (both values rejected on every
    side — the as-of join assigns the OTHER value a meaning too)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from proglog_spark.streaming.sessions import NULL_KEY, guarded_null_key

    df = spark.createDataFrame([(None,), (7,), (-5,)], "k LONG")
    got = {
        r.g for r in df.select(guarded_null_key(F.col("k")).alias("g")).collect()
    }
    assert got == {NULL_KEY, 7, -5}

    for bad in (NULL_KEY, NULL_KEY + 1):
        poisoned = spark.createDataFrame([(bad,)], "k LONG")
        with pytest.raises(SparkRuntimeException, match="reserved NULL-sentinel"):
            poisoned.select(
                guarded_null_key(F.col("k"), sentinel=NULL_KEY + 1).alias("g")
            ).collect()


# ---------------------------------------------------------------------------
# streaming scene segmentation (streaming/scenes.py): the piece
# algebra (tree-reduce monoid) and the engine across out-of-order
# micro-batch fragments
# ---------------------------------------------------------------------------


def test_scene_piece_algebra_matches_flat_model():
    """Folding ANY fragmentation of a clip, arriving in ANY order,
    through coalesce-then-seal equals the flat single-pass model —
    the invariant that makes the streamed engine batch-equivalent."""
    import random

    from proglog_spark.streaming.scenes import (
        _coalesce,
        _seal,
        piece_from_frames,
    )

    rng = random.Random(11)
    for _ in range(400):
        n = rng.randint(1, 30)
        los = [rng.getrandbits(32) for _ in range(n)]
        his = [rng.getrandbits(32) for _ in range(n)]
        for i in range(1, n):
            if rng.random() < 0.5:  # make merged runs common
                los[i], his[i] = los[i - 1], his[i - 1]
        flat = piece_from_frames(list(range(n)), los, his)
        cuts = (
            sorted(rng.sample(range(1, n), rng.randint(0, min(6, n - 1))))
            if n > 1
            else []
        )
        bounds = [0] + cuts + [n]
        frags = list(zip(bounds, bounds[1:]))
        rng.shuffle(frags)
        pieces: list = []
        for a, b in frags:
            pieces.append(piece_from_frames(list(range(a, b)), los[a:b], his[a:b]))
            pieces = _coalesce(pieces)  # incremental arrival
        assert _seal(pieces) == flat


def test_pieces_from_batch_matches_loop():
    """The r12 vectorized whole-batch piece extraction must equal the
    per-run loop reference (piece_from_frames) for every doc and every
    k-gap split — random multi-doc batches with gaps, duplicates of
    hash words, and single-frame runs."""
    import random

    import numpy as np

    from proglog_spark.streaming.scenes import (
        piece_from_frames,
        pieces_from_batch,
    )

    rng = random.Random(23)
    for _ in range(300):
        docs, ks, los, his = [], [], [], []
        expected: list = []
        for doc in sorted(rng.sample(range(1, 50), rng.randint(1, 5))):
            k = rng.randint(0, 3)
            runs = rng.randint(1, 3)
            for _r in range(runs):
                n = rng.randint(1, 12)
                rl = [rng.getrandbits(32) for _ in range(n)]
                rh = [rng.getrandbits(32) for _ in range(n)]
                for i in range(1, n):
                    if rng.random() < 0.5:
                        rl[i], rh[i] = rl[i - 1], rh[i - 1]
                rk = list(range(k, k + n))
                expected.append((doc, piece_from_frames(rk, rl, rh)))
                docs += [doc] * n
                ks += rk
                los += rl
                his += rh
                k += n + rng.randint(1, 4)  # gap => next run
        got_docs, got_pieces = pieces_from_batch(
            np.array(docs, dtype=np.int64),
            np.array(ks, dtype=np.int64),
            np.array(los, dtype=np.int64),
            np.array(his, dtype=np.int64),
        )
        assert list(zip(got_docs, got_pieces)) == expected
    assert pieces_from_batch(
        np.empty(0, np.int64), np.empty(0, np.int64),
        np.empty(0, np.int64), np.empty(0, np.int64),
    ) == ([], [])


def test_scene_piece_overlap_fails_loudly():
    """Duplicate frames (overlapping k ranges) are a source-contract
    violation, not something to silently dedup."""
    import pytest as _pytest

    from proglog_spark.streaming.scenes import _coalesce, piece_from_frames

    a = piece_from_frames([0, 1], [1, 1], [2, 2])
    b = piece_from_frames([1, 2], [1, 1], [2, 2])
    with _pytest.raises(ValueError, match="overlapping"):
        _coalesce([a, b])


def test_streaming_scene_segments_across_shuffled_batches(spark, tmp_path):
    """Two clips stream in two micro-batches whose fragments are
    deliberately OUT OF k-ORDER (batch 1 carries clip A's tail and
    clip B's head; batch 2 the complements + the sentinel): sealed
    output must equal the flat model per clip."""
    import datetime

    from pyspark.sql import functions as F

    from proglog_spark.streaming.scenes import (
        piece_from_frames,
        streaming_scene_segments,
    )

    base = 1_600_000_000
    # clip 7: three identical frames, a hard cut, two identical frames
    a_los = [5, 5, 5, 9999, 9999]
    a_his = [3, 3, 3, 7777, 7777]
    # clip 8: alternating far frames — every frame its own scene
    b_los = [1, 60000, 1, 60000]
    b_his = [2, 50000, 2, 50000]

    def rows(doc, los, his, ks):
        return [
            (
                doc,
                k,
                los[k],
                his[k],
                datetime.datetime.fromtimestamp(
                    base + k, datetime.timezone.utc
                ),
            )
            for k in ks
        ]

    schema = (
        "doc_id LONG, k LONG, simhash_lo LONG, simhash_hi LONG, ts TIMESTAMP"
    )
    stream_dir = str(tmp_path / "frames")
    ckpt = str(tmp_path / "ckpt")
    batch1 = rows(7, a_los, a_his, [3, 4]) + rows(8, b_los, b_his, [0, 1])
    batch2 = rows(7, a_los, a_his, [0, 1, 2]) + rows(8, b_los, b_his, [2, 3])
    sentinel = [
        (
            999,
            0,
            0,
            0,
            datetime.datetime.fromtimestamp(
                base, datetime.timezone.utc
            )
            + datetime.timedelta(days=30),
        )
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        stream_dir
    )
    q = (
        streaming_scene_segments(
            spark.readStream.schema(schema).parquet(stream_dir),
            gap_seconds=3600,
            watermark="2 hours",
            n_buckets=4,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("scene_seg_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2 + sentinel, schema).write.mode(
            "append"
        ).parquet(stream_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id: (r.n_frames, r.n_scenes, r.longest_scene)
        for r in spark.table("scene_seg_test").collect()
        if r.doc_id != 999
    }
    spark.catalog.dropTempView("scene_seg_test")
    want = {
        7: piece_from_frames(range(5), a_los, a_his)[6:9],
        8: piece_from_frames(range(4), b_los, b_his)[6:9],
    }
    assert got == {d: tuple(v) for d, v in want.items()}


# Micro-batches each streamed gate runs at sf0.001 on local[4]. The
# pin is a baseline for cutting batches, not a contract: a change
# that removes one updates its row here.
_GATE_BATCHES = {
    "events_hourly_counts_streamed": 1,
    "events_cdc_apply_streamed": 1,
    "events_cms_streamed": 1,
    "events_heavy_hitters_streamed": 1,
    "events_distinct_rollup_streamed": 1,
    "events_dedup_streamed": 2,
    "events_trailing_anomaly_streamed": 2,
    "events_sessionize_streamed": 4,
    "events_asof_order_streamed": 4,
    "docs_scene_cuts_streamed": 4,
}


@pytest.fixture
def gate_progress(spark):
    """Counts the progress events of the streaming queries started
    while the test runs; ``count()`` waits for the listener bus."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Counter(StreamingQueryListener):
        def __init__(self):
            self.batches = 0

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.batches += 1

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def count(self):
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            return self.batches

    counter = Counter()
    spark.streams.addListener(counter)
    yield counter
    spark.streams.removeListener(counter)


def _session_state(spark):
    """What a gate could leave behind, limited to what this session can
    create: its width and temp views, ``_StreamGate``'s work dirs in the
    temp dir, and the entries of the session's own local dir (the
    ``spark-*`` dir it made under its local root). The rest of the
    shared temp dir belongs to other processes too."""
    import os
    import tempfile

    tmp = tempfile.gettempdir()
    own = spark._jvm.org.apache.spark.util.Utils.getLocalDir(spark.sparkContext._jsc.sc().conf())
    return {
        "width": spark.conf.get("spark.sql.shuffle.partitions"),
        "views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
        "gate_dirs": {d for d in os.listdir(tmp) if d.startswith("stream_gate_")},
        "local_dirs": set(os.listdir(own)),
    }


def _assert_clean_exit(spark, before):
    """No query left running, the session width restored, and no temp
    view, gate work dir or local dir entry left behind by the gate."""
    after = _session_state(spark)
    assert spark.streams.active == []
    assert after["width"] == before["width"]
    assert after["views"] - before["views"] == set()
    assert after["gate_dirs"] - before["gate_dirs"] == set()
    assert after["local_dirs"] - before["local_dirs"] == set()


@pytest.mark.parametrize("name", sorted(_GATE_BATCHES))
def test_streamed_gate_batches_and_clean_exit(spark, sf_dir, gate_progress, name):
    from proglog_spark import queries as q

    before = _session_state(spark)
    out = q.REGISTRY[name][0](spark, sf_dir)
    assert out.count() > 0
    assert gate_progress.count() == _GATE_BATCHES[name]
    _assert_clean_exit(spark, before)


def test_streamed_gate_cleans_up_on_error(spark, sf_dir, monkeypatch):
    """A wave that fails while the query runs (here the sessionize
    gate's second sentinel) still stops the query, restores the width
    and removes the sink view and the work dirs."""
    from proglog_spark import queries as q

    write = q._write_sentinel_parquet
    calls = []

    def fail_second(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("sentinel write failed")
        return write(*args, **kwargs)

    monkeypatch.setattr(q, "_write_sentinel_parquet", fail_second)
    before = _session_state(spark)
    with pytest.raises(OSError, match="sentinel write failed"):
        q.REGISTRY["events_sessionize_streamed"][0](spark, sf_dir)
    assert len(calls) == 2
    _assert_clean_exit(spark, before)
