"""The declared query surface — every (queries, oracle_sql) pair.

This is the engine's acceptance contract (SURVEY.md §2.1): each entry
maps a name to a Spark implementation ``(spark, sf_dir) -> DataFrame``
and, when SQL-expressible, a DuckDB oracle string over the driver's
pre-registered views. The driver hash-compares both at sf0.01.

Determinism rules applied throughout (FIXTURES.md §3):
- total ORDER BY on unique keys in every oracle,
- integer/string/boolean outputs; ratios as floor(1e6·a/b) fixed-point;
  money as floor(x*100) integer cents — never float sums,
- md5 as the only cross-engine digest; 32-bit halves of it as the
  shared token hash (Spark ``conv(hex,16,10)`` == DuckDB
  ``CAST('0x'||hex AS BIGINT)``),
- row_number/rank cast to BIGINT on the Spark side (Spark emits INT,
  DuckDB BIGINT).

Names are grouped: ``log_*`` = reference log surface (L1-L12),
``events_*``/``docs_*``/``emb_*`` = analytics extensions (A1-A6 +
training-data ops), ``tpch_*`` = join/agg bench workloads.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from proglog_spark.acl import CONSUME, DEFAULT_POLICY, PRODUCE, Authorizer
from proglog_spark.cluster import CANONICAL_SERVERS, servers_df
from proglog_spark.errors import OffsetOutOfRangeError, PermissionDeniedError
from proglog_spark.functions.vectors import quantized_dot
from proglog_spark.multimodal import extract_media_meta
from proglog_spark.operators import (
    dedup,
    joins,
    sampling,
    similarity,
    sketch,
    text,
    topk,
    windows,
)
from proglog_spark.operators.pairs import blocked_pairs, cap_hubs, join_payload
from proglog_spark.sources import json_codec
from proglog_spark.sources.records import RECORDS_CTE, records_from_events
from proglog_spark.sources.tables import load_table

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]
REGISTRY: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# Plan-handle memo (r11 optimization): ANALYSIS-time twin of the
# CacheManager reuse the shared helper tables already rely on.
#
# Measured motivation (OPTIMIZATION_r11.md): for the big-lineage
# queries the driver-side Catalyst ANALYSIS of a freshly rebuilt plan
# dominates wall time — docs_av_dedup_verdicts spent 5-18 s in plan
# build vs 1.2 s executing against warm caches, because every
# invocation re-built the whole duplicated subtree (the self-join /
# union sides each carry a full copy of the frame-hash chain) and the
# analyzer re-resolved every copy. Spark skips re-analysis of an
# already-analyzed child plan (AnalysisHelper's analyzed flag), so
# composing on the SAME DataFrame object makes the shared subtree
# analyze once per session — exactly parallel to how the CacheManager
# makes it EXECUTE once per session.
#
# This memoizes unexecuted DataFrame handles only, never results: the
# first touch per session still computes everything from the parquet
# inputs, spark.catalog.clearCache() still forces recomputation (the
# handle re-registers its cache on next use), and a new session/app
# starts empty (key includes applicationId).
_DF_MEMO: dict = {}


def _memo_df(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    """Return the session-scoped memoized DataFrame handle for
    ``key``, building it with ``build()`` on first use. See the memo
    rationale above."""
    k = (spark.sparkContext.applicationId, sf_dir, key)
    df = _DF_MEMO.get(k)
    if df is None:
        df = build()
        _DF_MEMO[k] = df
    return df


def _memo_value(spark: SparkSession, sf_dir: str, key: str, build):
    """Session-scoped memo for small driver-side VALUES the query
    family would otherwise recompute with a Spark job per consumer —
    a corpus count feeding the adaptive LSH/IVF sizing ladders, the
    bounded ANN training sample (ivf_train_sample's ≤2^18-row
    collect). Same lifecycle contract as _memo_df (keyed by
    applicationId, so a new session recomputes from parquet), with
    one extra hook: bench.py's cold-attribution mode calls
    :func:`clear_value_memos` alongside spark.catalog.clearCache() so
    each cold-timed family member pays its own model build, exactly
    as it pays its own cache build."""
    k = (spark.sparkContext.applicationId, sf_dir, "value:" + key)
    if k not in _DF_MEMO:
        _DF_MEMO[k] = build()
    return _DF_MEMO[k]


def clear_value_memos() -> int:
    """Drop every _memo_value entry (cold-attribution hook — see
    _memo_value; DataFrame HANDLE memos stay, their recompute story
    is spark.catalog.clearCache()). Returns the number dropped."""
    ks = [
        k
        for k in _DF_MEMO
        if isinstance(k, tuple) and len(k) == 3 and str(k[2]).startswith("value:")
    ]
    for k in ks:
        del _DF_MEMO[k]
    return len(ks)


def register(name: str, oracle: str | None):
    """Query-authoring rules (enforced by the digest manifest):

    1. Alias every computed column identically in the Spark plan and
       the oracle SQL — the driver compares column-sorted value hashes.
    2. Reach package helpers through BARE NAMES or explicit
       ``proglog_spark`` imports (module- or function-level). The
       digest closure (tools/digest_manifest.py) walks ast.Name
       globals and package import statements ONLY; a helper reached
       purely through container/attribute indirection (a dict of
       callables, class-attribute dispatch defined elsewhere with no
       module-level reference) escapes the digest and could drift
       silently after a driver check. If you need a dispatch table,
       also name the dispatched functions (or their module) directly
       in the query body so the closure sees them.
    """

    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Log surface (reference RPCs + internal log API; SURVEY §2.1 L1-L12)
# ---------------------------------------------------------------------------

_POINT_OFFSET = 4242 % 1000  # present at every sf (sf0.001 has 1000 events)


@register(
    "log_read_point",
    RECORDS_CTE
    + f'SELECT "offset", value, term, type FROM records WHERE "offset" = {_POINT_OFFSET}',
)
def log_read_point(spark, sf_dir):
    """L1: point lookup by offset (reference Consume RPC, O7/O11/O19)."""
    r = records_from_events(spark, sf_dir)
    return r.where(F.col("offset") == _POINT_OFFSET)


@register(
    "log_bounds",
    RECORDS_CTE
    + 'SELECT min("offset") AS lowest_offset, max("offset") AS highest_offset, '
    "count(*) AS record_count FROM records",
)
def log_bounds(spark, sf_dir):
    """L2/L3/L4: lowest/highest offset + count (O12/O13; count via density)."""
    r = records_from_events(spark, sf_dir)
    return r.agg(
        F.min("offset").alias("lowest_offset"),
        F.max("offset").alias("highest_offset"),
        F.count(F.lit(1)).alias("record_count"),
    )


@register(
    "log_scan_range",
    RECORDS_CTE
    + 'SELECT "offset", value, term, type FROM records '
    'WHERE "offset" BETWEEN 100 AND 199 ORDER BY "offset"',
)
def log_scan_range(spark, sf_dir):
    """L5: ordered range scan (segment routing generalized, O11)."""
    r = records_from_events(spark, sf_dir)
    return r.where(F.col("offset").between(100, 199)).orderBy("offset")


@register(
    "log_tail",
    RECORDS_CTE
    + 'SELECT "offset", value, term, type FROM records '
    'WHERE "offset" > (SELECT max("offset") - 50 FROM records) ORDER BY "offset"',
)
def log_tail(spark, sf_dir):
    """L6: last 50 records ascending (HighestOffset + backward window)."""
    r = records_from_events(spark, sf_dir)
    hi = r.agg((F.max("offset") - 50).alias("_cut"))
    return (
        r.join(F.broadcast(hi))
        .where(F.col("offset") > F.col("_cut"))
        .drop("_cut")
        .orderBy("offset")
    )


@register(
    "log_consume_from",
    RECORDS_CTE
    + 'SELECT "offset", value, term, type FROM records '
    'WHERE "offset" >= (SELECT max("offset") - 99 FROM records) ORDER BY "offset"',
)
def log_consume_from(spark, sf_dir):
    """L7: batch-equivalent of ConsumeStream from a given offset (O21)."""
    r = records_from_events(spark, sf_dir)
    cut = r.agg((F.max("offset") - 99).alias("_cut"))
    return (
        r.join(F.broadcast(cut))
        .where(F.col("offset") >= F.col("_cut"))
        .drop("_cut")
        .orderBy("offset")
    )


@register(
    "log_truncate_view",
    RECORDS_CTE
    + 'SELECT min("offset") AS lowest_offset, max("offset") AS highest_offset, '
    'count(*) AS record_count FROM records WHERE "offset" > 500',
)
def log_truncate_view(spark, sf_dir):
    """L9: post-truncate(500) visibility — exact semantics (offset > lowest)."""
    r = records_from_events(spark, sf_dir)
    return r.where(F.col("offset") > 500).agg(
        F.min("offset").alias("lowest_offset"),
        F.max("offset").alias("highest_offset"),
        F.count(F.lit(1)).alias("record_count"),
    )


@register(
    "log_read_out_of_range",
    "SELECT 'OFFSET_OUT_OF_RANGE:99999999' AS error",
)
def log_read_out_of_range(spark, sf_dir):
    """L10: reads past the end surface the typed, payload-carrying error
    (api/v1/error.go:14-15 → canonical string form, FIXTURES §3.4)."""
    r = records_from_events(spark, sf_dir)
    k = 99999999
    # reference semantics (log.go:100-106): out-of-range iff k > highest.
    # One column-pruned parallel agg job — NOT isEmpty() on an empty
    # filter, whose take(1) probes partitions in growing waves (1, 4,
    # 20, ...) and ends up scanning everything across several jobs.
    highest = r.agg(F.max("offset").alias("hi")).first().hi
    try:
        if highest is None or k > highest:
            raise OffsetOutOfRangeError(k)
        raise AssertionError("fixture offset space exceeded")
    except OffsetOutOfRangeError as e:
        # single JVM-local row — no Python-side serialization round-trip
        return spark.range(1).select(F.lit(e.canonical()).alias("error"))


@register(
    "log_json_roundtrip",
    RECORDS_CTE
    + 'SELECT "offset", value, term, type FROM records '
    "WHERE \"offset\" < 100 ORDER BY \"offset\"",
)
def log_json_roundtrip(spark, sf_dir):
    """O23 (HTTP JSON edge): encode records to the wire JSON form
    ({"record": {..., value: base64}}, http.go:14-30) and decode them
    back — the full codec path must be lossless, so the oracle is the
    plain records themselves."""
    r = records_from_events(spark, sf_dir).where(F.col("offset") < 100)
    return json_codec.records_from_json(json_codec.records_to_json(r)).orderBy(
        "offset"
    )


@register(
    "log_servers",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{i}', '{a}', {str(l).lower()})" for i, a, l in CANONICAL_SERVERS
    )
    + ") AS t(id, rpc_addr, is_leader) ORDER BY id",
)
def log_servers(spark, sf_dir):
    """L11: GetServers cluster metadata (O22)."""
    return servers_df(spark).orderBy("id")


_ACL_MATRIX = [
    ("root", PRODUCE),
    ("root", CONSUME),
    ("nobody", PRODUCE),
    ("nobody", CONSUME),
]


@register(
    "log_acl_check",
    "SELECT * FROM (VALUES "
    "('root', 'produce', 'OK'), ('root', 'consume', 'OK'), "
    "('nobody', 'produce', 'PERMISSION_DENIED'), "
    "('nobody', 'consume', 'PERMISSION_DENIED')"
    ") AS t(subject, action, outcome) ORDER BY subject, action",
)
def log_acl_check(spark, sf_dir):
    """L12: ACL gate outcomes for the canonical two-identity matrix
    (root allowed / nobody denied, server_test.go:286-308 analog)."""
    auth = Authorizer(DEFAULT_POLICY)
    rows = []
    for subject, action in _ACL_MATRIX:
        try:
            auth.authorize(subject, "*", action)
            rows.append((subject, action, "OK"))
        except PermissionDeniedError as e:
            rows.append((subject, action, e.canonical()))
    # JVM-side VALUES LocalRelation — the outcomes are driver-side ACL
    # decisions over a closed vocabulary (no quoting hazard); avoids
    # the Python RDD path entirely (createDataFrame(list) parallelizes)
    values = ", ".join(f"('{s}', '{a}', '{o}')" for s, a, o in rows)
    return spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t(subject, action, outcome) "
        "ORDER BY subject, action"
    )


# ---------------------------------------------------------------------------
# Events analytics (A1/A2/A5 + sessions, sliding windows, JSON)
# ---------------------------------------------------------------------------


@register(
    "events_hourly_counts",
    "SELECT CAST(floor(epoch(ts)/3600) AS BIGINT) AS bucket, event_type, "
    "count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_hourly_counts(spark, sf_dir):
    """A1: tumbling 1h event counts (streaming twin in streaming/)."""
    e = load_table(spark, sf_dir, "events")
    return windows.tumbling_counts(e, "ts", 3600, ["event_type"]).orderBy(
        "bucket", "event_type"
    )


def _stream_events(spark, sf_dir, table: str = "events"):
    """File-source stream over one fixture table, with the same ts
    normalization as sources.tables.load_table when the table has a
    ``ts`` column. Robust to both fixture layouts: a single FILE
    `<table>.parquet` (streamed via a pathGlobFilter on the sf dir,
    since the file source wants a directory) and a DIRECTORY
    `<table>.parquet/` as the scale-probe replicas write (where the
    glob would match no files and silently stream nothing)."""
    import os

    from pyspark.sql import types as T

    path = os.path.join(sf_dir, f"{table}.parquet")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", f"{table}.parquet")
            .parquet(sf_dir)
        )
    ts_type = raw_schema["ts"].dataType if "ts" in raw_schema.fieldNames() else None
    if isinstance(ts_type, T.LongType):
        # same ns→µs normalization as sources.tables.load_table
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Spark >= 4.1 native nanos read: NTZ → session-TZ(UTC) timestamp
        # (withWatermark requires TIMESTAMP, not TIMESTAMP_NTZ)
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


# key of the streamed gates' watermark sentinel rows; no fixture uses it
_SENTINEL_KEY = 999_999_999


def _fixture_horizon(spark, sf_dir, **columns):
    """The latest timestamp over the fixture's ``table=column`` pairs,
    as a naive UTC datetime (events.ts normalized by load_table): the
    streamed gates place their watermark sentinels days past it."""
    return max(
        load_table(spark, sf_dir, t).agg(F.max(c)).first()[0].replace(tzinfo=None)
        for t, c in columns.items()
    )


def _write_sentinel_parquet(dir_path: str, ts_col: str, at, **cols) -> None:
    """Write one sentinel row into a streamed gate's file-source dir
    DRIVER-SIDE with pyarrow instead of a Spark job (r12: one literal
    row is driver work — `spark.createDataFrame(...).write.parquet`
    paid a full plan+task+commit round trip, ~0.6 s per sentinel wave
    in r12).

    The row holds ``ts_col`` = ``at`` (a naive-UTC or tz-aware
    datetime) as a UTC microsecond timestamp, and ``cols`` as given
    (ints land as int64, floats as double — the types the stream's
    declared read schema expects). The file is written under a
    dot-prefixed temp name — Spark's file listing ignores hidden
    files, and the running stream polls the directory asynchronously
    — then atomically renamed into visibility, the same
    expose-only-complete-files discipline Spark's own committer
    provides."""
    import datetime
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if at.tzinfo is None:
        at = at.replace(tzinfo=datetime.timezone.utc)
    table = pa.table(
        {
            ts_col: pa.array([at], pa.timestamp("us", tz="UTC")),
            **{c: pa.array([v]) for c, v in cols.items()},
        }
    )
    os.makedirs(dir_path, exist_ok=True)
    final = os.path.join(dir_path, f"sentinel-{uuid.uuid4().hex}.parquet")
    tmp = os.path.join(dir_path, f".{os.path.basename(final)}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, final)


def _stream_state_partitions(spark, sf_dir, table: str = "events") -> int:
    """State-store partition width for the streamed gates, derived
    from INPUT SIZE rather than hard-coded (r11 optimization; guide
    §2.2 "fewer, larger partitions" applied to streaming state).

    A stateful streaming query pins its shuffle width at start and
    pays a fixed per-partition state-store commit on EVERY micro-batch
    (~0.3-0.8 s per partition-commit measured on this host via
    tools/profile_stream.py — commitTimeMs dominated addBatch at the
    session's 32-wide default while the 8-wide gates' commits were
    ~30x cheaper). So small inputs want few, large state partitions:
    ceil(events-fixture bytes / 256 KB) clamped to [1, session
    shuffle width]. At sf0.1 (2 MB) that is 8 — the interleaved A/B
    measured 30.7 s vs 37.8 s across the eight event gates against
    width 32 — while at production input sizes the clamp hands
    control back to the session/cluster width (the setting stays
    scale-adaptive, not a local constant). ``table`` names the fixture
    the gate actually streams (ADVICE-r11: the scene gate streams
    document-derived frames, so sizing it off events was a heuristic
    mismatch)."""
    import math
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        nbytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
    else:
        nbytes = os.path.getsize(path) if os.path.exists(path) else 0
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(session, math.ceil(nbytes / (256 * 1024))))


class _StreamGate:
    """The lifecycle around one streamed gate's query: its state width
    (sized off the fixture ``table`` it streams), a work dir for its
    checkpoint, feeds and sentinels, and its memory sink. Used as a
    context manager; on exit, even on error, it drops the memory
    sink's view (each one holds a full result for the session's
    lifetime) and removes the work dir. The gate itself keeps its
    source, trigger, sink and waves."""

    def __init__(self, spark, sf_dir, table: str = "events"):
        import tempfile

        self.spark = spark
        self.width = _stream_state_partitions(spark, sf_dir, table)
        self.work = tempfile.mkdtemp(prefix="stream_gate_")
        self.sink = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        import shutil

        if self.sink is not None:
            self.spark.catalog.dropTempView(self.sink)
        shutil.rmtree(self.work, ignore_errors=True)

    def path(self, name: str) -> str:
        """``name`` under the work dir (created by whoever writes it)."""
        import os

        return os.path.join(self.work, name)

    def memory(self, df: DataFrame, prefix: str, mode: str = "append"):
        """A writer of ``df`` into a uniquely named memory sink,
        checkpointed in the work dir; `run` returns its rows."""
        import uuid

        self.sink = f"{prefix}_{uuid.uuid4().hex[:12]}"
        return (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(self.sink)
            .option("checkpointLocation", self.path("ckpt"))
        )

    def run(self, start: Callable, *waves: Callable) -> DataFrame | None:
        """Start the query (``start()`` returns it) at the gate's state
        width and process all available input; then, per wave, call it
        and process what it made available. The query is stopped even
        on error, and only then is the session width restored: the
        query plans its state partitions asynchronously after start(),
        so an earlier restore would race it.

        Returns the memory sink's rows when `memory` made the writer.
        ``spark.table`` binds the sink's relation EAGERLY (r12), so the
        handle stays valid once the view is dropped on exit, and the
        rows stay in the JVM instead of a collect()-then-
        createDataFrame round trip through the driver."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(self.width))
        try:
            q = start()
            try:
                q.processAllAvailable()
                for wave in waves:
                    wave()
                    q.processAllAvailable()
            finally:
                q.stop()
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)
        return None if self.sink is None else self.spark.table(self.sink)


@register(
    "events_hourly_counts_streamed",
    "SELECT CAST(floor(epoch(ts)/3600) AS BIGINT) AS bucket, event_type, "
    "count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_hourly_counts_streamed(spark, sf_dir):
    """A1 through the STREAMING engine: the watermarked tumbling agg
    runs as a real Structured Streaming query (availableNow trigger,
    memory sink) over the same fixture and must hash-match the same
    batch oracle — the convergence contract, oracle-enforced."""
    from proglog_spark.streaming.windows import streaming_tumbling_counts

    agg = streaming_tumbling_counts(_stream_events(spark, sf_dir), "ts", 3600, ["event_type"])
    with _StreamGate(spark, sf_dir) as gate:
        out = gate.run(
            gate.memory(agg, "hourly_streamed", "complete")
            .trigger(availableNow=True)
            .start
        )
    return out.orderBy("bucket", "event_type")


@register(
    "events_dedup_streamed",
    "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us "
    "FROM events ORDER BY event_id",
)
def events_dedup_streamed(spark, sf_dir):
    """Exactly-once delivery over an at-least-once feed, THE
    reference-motivated streaming operator (its pull-based Replicator
    re-copies the whole source log when a member rejoins, shipping
    duplicates downstream — internal/log/replicator.go:43-87): the
    fixture streams through TWO independent file sources unioned
    (every record delivered twice, the rejoin scenario), and
    `streaming/dedup.dedup_stream` (watermarked
    dropDuplicatesWithinWatermark, state bounded by the horizon) must
    emit each event exactly once — the oracle is simply the events
    table itself, so any duplicate OR dropped record fails the hash.

    The dedup horizon is derived from the fixture's actual event-time
    span (+1 day) rather than hard-coded: with a horizon SHORTER than
    the span, records more than the horizon behind the observed max
    event time would be dropped as late whenever the file source
    splits delivery across micro-batches (maxFilesPerTrigger, a
    multi-file fixture) — the gate's exactly-once guarantee must not
    hinge on single-batch delivery. In production the horizon is the
    state-size dial: it bounds state to keys seen within the horizon
    and REQUIRES the feed's duplicate lag to stay inside it."""
    from proglog_spark.streaming.dedup import dedup_stream

    span = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.ceil(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / (86400 * 1_000_000)
            ).alias("d")
        )
        .collect()[0]["d"]
    )
    doubled = _stream_events(spark, sf_dir).unionByName(
        _stream_events(spark, sf_dir)
    )
    deduped = dedup_stream(
        doubled,
        key_cols=["event_id"],
        event_time_col="ts",
        # empty table / all-NULL ts => span is None; default to 1 day
        watermark=f"{int(span or 0) + 1} days",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    with _StreamGate(spark, sf_dir) as gate:
        out = gate.run(
            gate.memory(deduped, "dedup_streamed").trigger(availableNow=True).start
        )
    return out.orderBy("event_id")


@register(
    "events_cdc_apply_streamed",
    "WITH r AS (SELECT user_id, event_id, event_type, "
    "CAST(floor(value * 1000000) AS BIGINT) AS value_micro, "
    "row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn "
    "FROM events) "
    "SELECT user_id, event_id AS last_event_id, event_type, value_micro "
    "FROM r WHERE rn = 1 ORDER BY user_id",
)
def events_cdc_apply_streamed(spark, sf_dir):
    """CDC apply through the REAL foreachBatch pipeline
    (`streaming/cdc.apply_cdc_stream` + `sources/upsert.KeyedTable` —
    the reference's FSM-apply idempotence argument,
    internal/log/distributed_fsm.go:25-46): the keyed table is
    initialized from the first half of the event feed (latest row per
    user), the second half streams in as CDC changes merged by bucket
    partial-rewrite, and the FINAL TABLE STATE must hash-match the
    last-writer-per-key oracle over the whole feed — a lost change, a
    stale overwrite, or a duplicated key all fail. event_id is the
    CDC sequence (unique, monotone)."""
    from proglog_spark.sources.upsert import KeyedTable
    from proglog_spark.streaming.cdc import apply_cdc_stream, latest_per_key

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    half = e.agg((F.max("event_id") / 2).cast("long")).collect()[0][0]
    with _StreamGate(spark, sf_dir) as gate:
        table = KeyedTable.create(
            spark,
            gate.path("table"),
            latest_per_key(e.where(F.col("event_id") <= half), "user_id", "event_id"),
            "user_id",
            n_buckets=8,
        )
        feed = gate.path("feed")
        e.where(F.col("event_id") > half).write.mode("append").parquet(feed)
        gate.run(
            lambda: apply_cdc_stream(
                spark.readStream.schema(e.schema).parquet(feed),
                table,
                order_col="event_id",
                checkpoint=gate.path("ckpt"),
            )
        )
        # materialized before the work dir holding the table goes
        out = _materialize(
            table.df().select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                "event_type",
                F.floor(F.col("value") * 1000000).cast("long").alias("value_micro"),
            )
        )
    return out.orderBy("user_id")


@register(
    "events_sliding_counts",
    "WITH e AS (SELECT event_type, CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ls FROM events), "
    "exp AS (SELECT event_type, ls - 1800*i.i AS window_start FROM e "
    "CROSS JOIN (SELECT unnest(range(2)) AS i) i) "
    "SELECT window_start, event_type, count(*) AS n_events FROM exp "
    "WHERE window_start >= 0 GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_sliding_counts(spark, sf_dir):
    """Sliding 1h/30min counts (each event in 2 windows)."""
    e = load_table(spark, sf_dir, "events")
    return windows.sliding_counts(e, "ts", 3600, 1800, ["event_type"]).orderBy(
        "window_start", "event_type"
    )


@register(
    "events_user_topk",
    "SELECT user_id, event_id, rn FROM ("
    "SELECT user_id, event_id, row_number() OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) "
    "WHERE rn <= 3 ORDER BY user_id, rn",
)
def events_user_topk(spark, sf_dir):
    """A2: first 3 events per user (windowed top-k with rank pushdown)."""
    e = load_table(spark, sf_dir, "events")
    return (
        topk.topk_per_key(e, ["user_id"], [F.col("ts"), F.col("event_id")], 3)
        .select("user_id", "event_id", "rn")
        .orderBy("user_id", "rn")
    )


@register(
    "events_extremes",
    "SELECT event_type, min(value) AS min_value, max(value) AS max_value, "
    "count(*) AS n_events FROM events GROUP BY 1 ORDER BY 1",
)
def events_extremes(spark, sf_dir):
    """A5: exact float reductions only (min/max — never float sums)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "events_approx_distinct",
    "SELECT event_type, count(DISTINCT user_id) AS exact_users, "
    "true AS approx_within_5pct FROM events GROUP BY 1 ORDER BY 1",
)
def events_approx_distinct(spark, sf_dir):
    """HLL++ approximate count-distinct (the 100 TB cardinality path —
    one pass, constant memory, no distinct shuffle) asserted INSIDE the
    gate: the output carries the exact count plus a boolean that the
    sketch landed within 5% of it. The oracle states the boolean as a
    literal, so a drifting sketch hash-mismatches. rsd=0.01 ⇒ the 5%
    bound holds with overwhelming margin at every sf."""
    e = load_table(spark, sf_dir, "events")
    # dedup once, then count + sketch the deduped pairs: HLL is
    # duplicate-insensitive, so this is equivalent — and it avoids the
    # Expand-based plan Catalyst builds for exact+approx distinct in
    # one aggregate over the raw rows
    pairs = e.select("event_type", "user_id").distinct()
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "events_running_count",
    "SELECT user_id, event_id, "
    "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) "
    "AS nth_event, "
    "CAST(count(*) OVER (PARTITION BY user_id, event_type "
    "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nth_of_type "
    "FROM events QUALIFY nth_event <= 20 ORDER BY user_id, nth_event",
)
def events_running_count(spark, sf_dir):
    """Cumulative window functions (running ordinals overall and per
    event_type) — the per-user sequence-feature shape of a training
    pipeline. Two windows share one (user_id) shuffle; QUALIFY-style
    rank filter keeps the output bounded."""
    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.row_number().over(w_all).cast("long").alias("nth_event"),
            F.count(F.lit(1)).over(w_type).cast("long").alias("nth_of_type"),
        )
        .where(F.col("nth_event") <= 20)
        .orderBy("user_id", "nth_event")
    )


@register(
    "events_inactive_users",
    "SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day "
    "FROM events WHERE event_type = 'signup' "
    "EXCEPT SELECT user_id, CAST(date_trunc('day', ts) AS DATE) "
    "FROM events WHERE event_type = 'purchase' "
    "ORDER BY user_id, day",
)
def events_inactive_users(spark, sf_dir):
    """Set difference (EXCEPT): (user, day) pairs with a signup but no
    purchase that day. Spark side is a left-anti join — same
    semantics, but anti-join states the asymmetry explicitly and
    broadcasts the subtrahend when small; both sides pre-aggregate to
    distinct keys so the shuffle carries (user, day), not events."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select("user_id", F.to_date("ts").alias("day"), "event_type")
    signups = keyed.where(F.col("event_type") == "signup").drop("event_type").distinct()
    buyers = keyed.where(F.col("event_type") == "purchase").drop("event_type").distinct()
    # eqNullSafe: SQL EXCEPT compares null-safely, a plain anti-join
    # equality would keep NULL-keyed left rows the oracle removes
    s, b = signups.alias("s"), buyers.alias("b")
    return (
        s.join(
            b,
            F.col("s.user_id").eqNullSafe(F.col("b.user_id"))
            & F.col("s.day").eqNullSafe(F.col("b.day")),
            "left_anti",
        )
        .select("s.user_id", "s.day")
        .orderBy("user_id", "day")
    )


@register(
    "events_sessionize",
    "WITH base AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events), "
    "marked AS (SELECT user_id, ts_us, CASE WHEN ts_us - lag(ts_us) OVER "
    "(PARTITION BY user_id ORDER BY ts_us) > 1800000000 THEN 1 ELSE 0 END AS is_new FROM base), "
    "sess AS (SELECT user_id, ts_us, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM marked) "
    "SELECT user_id, session_id, min(ts_us) AS session_start_us, "
    "max(ts_us) AS session_end_us, count(*) AS n_events FROM sess "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_sessionize(spark, sf_dir):
    """Session windows: 30-min-gap sessionization (batch form)."""
    e = load_table(spark, sf_dir, "events")
    return windows.sessionize(e, "user_id", "ts", 1800).orderBy("user_id", "session_id")


@register(
    "events_sessionize_streamed",
    "WITH base AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events), "
    "marked AS (SELECT user_id, ts_us, CASE WHEN ts_us - lag(ts_us) OVER "
    "(PARTITION BY user_id ORDER BY ts_us) > 1800000000 THEN 1 ELSE 0 END AS is_new FROM base), "
    "sess AS (SELECT user_id, ts_us, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM marked) "
    "SELECT user_id, min(ts_us) AS session_start_us, "
    "max(ts_us) AS session_end_us, count(*) AS n_events FROM sess "
    "GROUP BY user_id, session_id ORDER BY user_id, session_start_us",
)
def events_sessionize_streamed(spark, sf_dir):
    """Session windows through the REAL stateful streaming engine:
    `streaming_sessionize` (applyInPandasWithState, event-time
    timeouts) runs over the fixture as a Structured Streaming query;
    two sentinel waves push the watermark past every fixture
    session's end+gap so each session is emitted exactly once, then
    the emitted set must hash-match the batch lag+cumsum oracle —
    the stateful-operator convergence contract, oracle-enforced
    (the third streamed-inside-the-gate entry, next to A1 tumbling
    and the distinct rollup)."""
    import datetime

    from proglog_spark.streaming import streaming_sessionize

    # fixture stream straight off the fixture file (no copy)
    fixture = _stream_events(spark, sf_dir).select(F.col("user_id").cast("long"), "ts")
    # two sentinel events far past the fixture horizon close every
    # fixture session: the first rides along with the fixture, the
    # second is a wave. Each sentinel's micro-batch is followed by a
    # no-data batch that the advanced watermark triggers — four in
    # all, with [1001, 0, 1, 0] input rows at sf0.001 (pinned in
    # tests/test_streaming.py)
    horizon = _fixture_horizon(spark, sf_dir, events="ts")
    first, second = (horizon + datetime.timedelta(days=d) for d in (30, 60))
    with _StreamGate(spark, sf_dir) as gate:
        sentinels = gate.path("sentinels")
        _write_sentinel_parquet(sentinels, "ts", first, user_id=_SENTINEL_KEY)
        stream = fixture.unionByName(
            spark.readStream.schema("user_id long, ts timestamp").parquet(sentinels)
        )
        out = gate.run(
            gate.memory(
                streaming_sessionize(stream, gap_seconds=1800, watermark="1 minute"),
                "sessionize_streamed",
            ).start,
            lambda: _write_sentinel_parquet(sentinels, "ts", second, user_id=_SENTINEL_KEY),
        )
    return out.where(F.col("user_id") != _SENTINEL_KEY).orderBy(
        "user_id", "session_start_us"
    )


@register(
    "events_json_sum",
    "SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum, "
    "count(*) AS n_events FROM events GROUP BY 1 ORDER BY 1",
)
def events_json_sum(spark, sf_dir):
    """JSON scalar extraction + integer aggregation over props."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_sum"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


_ASOF_ORDER_SQL = (
    "SELECT event_id, user_id, asof_orderkey, asof_totalprice FROM ("
    "SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey, "
    "o.o_totalprice AS asof_totalprice, "
    "row_number() OVER (PARTITION BY e.event_id "
    "ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn "
    "FROM events e LEFT JOIN orders o "
    "ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts"
    ") WHERE rn = 1 ORDER BY event_id"
)


@register("events_asof_order", _ASOF_ORDER_SQL)
def events_asof_order(spark, sf_dir):
    """As-of join (merge_asof semantic — absent from both the reference
    and Spark's builtins): each event annotated with the user's most
    recent order at or before the event, ties broken by max orderkey.
    Spark side is operators/joins.asof_join — one window over a tagged
    union, a single key-hash shuffle, no inequality join; the oracle
    is the quadratic windowed-left-join formulation. o_totalprice is a
    point float carried through (no float arithmetic), hash-safe."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        F.col("o_orderdate"),
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    )
    return (
        joins.asof_join(
            e.withColumnRenamed("user_id", "o_custkey"),
            o,
            on="o_custkey",
            left_time="ts",
            right_time="o_orderdate",
            tie_break="asof_orderkey",
        )
        .select(
            "event_id",
            F.col("o_custkey").alias("user_id"),
            "asof_orderkey",
            "asof_totalprice",
        )
        .orderBy("event_id")
    )


@register("events_asof_order_streamed", _ASOF_ORDER_SQL)
def events_asof_order_streamed(spark, sf_dir):
    """The as-of join through the REAL stateful streaming engine
    (`streaming/asof.py` — applyInPandasWithState over the tagged
    union of both live feeds, watermark-sealed emission): events and
    orders stream off the fixture files, two sentinel CANDIDATE
    batches push the watermark past every anchor, and the emitted
    matches must hash-equal the SAME quadratic windowed-left-join
    oracle as the batch twin — the fourth streamed-inside-the-gate
    entry, and the only stream-STREAM one."""
    import datetime

    from proglog_spark.streaming.asof import streaming_asof_join

    ev = _stream_events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = _stream_events(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    # sentinels land past every event AND order timestamp
    horizon = _fixture_horizon(spark, sf_dir, events="ts", orders="o_orderdate")
    first, second = (horizon + datetime.timedelta(days=d) for d in (30, 60))
    sentinel = {"o_custkey": _SENTINEL_KEY, "o_orderkey": 0, "o_totalprice": 0.0}
    cand_schema = "o_custkey LONG, o_orderdate TIMESTAMP, o_orderkey LONG, o_totalprice DOUBLE"
    with _StreamGate(spark, sf_dir) as gate:
        sentinels = gate.path("sentinels")
        _write_sentinel_parquet(sentinels, "o_orderdate", first, **sentinel)
        cands = orders.unionByName(spark.readStream.schema(cand_schema).parquet(sentinels))
        joined = streaming_asof_join(
            ev.withColumnRenamed("user_id", "k"),
            cands.withColumnRenamed("o_custkey", "k"),
            on="k",
            left_time="ts",
            right_time="o_orderdate",
            left_id="event_id",
            tie_break="o_orderkey",
            value_cols=["o_totalprice"],
            watermark="1 minute",
        )
        out = gate.run(
            gate.memory(joined, "asof_streamed").start,
            lambda: _write_sentinel_parquet(sentinels, "o_orderdate", second, **sentinel),
        )
    return out.select(
        "left_id",
        F.col("key").alias("user_id"),
        F.col("right_tie").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    ).withColumnRenamed("left_id", "event_id").orderBy("event_id")


@register(
    "events_attribution_window",
    "SELECT p.event_id AS purchase_id, p.user_id AS user_id, "
    "count(*) AS n_prior_events "
    "FROM events p JOIN events c ON p.user_id = c.user_id "
    "AND p.event_type = 'purchase' "
    "AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts "
    "GROUP BY 1, 2 ORDER BY 1",
)
def events_attribution_window(spark, sf_dir):
    """Range join (equi-key + interval containment): events landing in
    the hour before each purchase by the same user — the attribution-
    window shape. Spark side is operators/joins.range_join: bucketized
    so Catalyst plans a hash join on (key, bucket) instead of the
    BroadcastNestedLoopJoin a raw inequality condition forces; the
    oracle is the direct inequality join."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("win_start"),
        F.col("ts").alias("win_end"),
    )
    cands = e.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return (
        joins.range_join(
            cands,
            purchases,
            point_key="c_user",
            interval_key="p_user",
            point_time="c_ts",
            interval_start="win_start",
            interval_end="win_end",
            bucket_seconds=3600,
        )
        .groupBy("purchase_id", F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_prior_events"))
        .orderBy("purchase_id")
    )


_HASH_BUCKET_SQL = (
    "CAST('0x' || substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) "
    "% 1000000"
)


@register(
    "docs_hash_sample",
    f"SELECT doc_id, lang, source FROM documents WHERE {_HASH_BUCKET_SQL} < 100000 "
    "ORDER BY doc_id",
)
def docs_hash_sample(spark, sf_dir):
    """Deterministic 10% sample by key hash (operators/sampling):
    membership is a pure function of doc_id, so the sample is stable
    under repartitioning/rescale, join-consistent across tables, and
    nested inside any higher rate — none of which holds for RNG
    df.sample. Plan is a plain filter, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.hash_sample(d, "doc_id", 100000)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "docs_epoch_shuffle",
    "SELECT epoch, doc_id, CAST(row_number() OVER (PARTITION BY epoch "
    "ORDER BY h, doc_id) AS BIGINT) AS shuffle_rank FROM ("
    "SELECT e.epoch, doc_id, CAST('0x' || substr(md5('shuffle:' || "
    "CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) AS h FROM documents, "
    "(SELECT unnest(range(2)) AS epoch) e) "
    "ORDER BY epoch, shuffle_rank",
)
def docs_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch training order (sampling.
    epoch_shuffle_key): each epoch is an independent hash permutation
    of the corpus — reproducible across runs and repartitionings, so a
    resumed training job continues mid-epoch at the exact position.
    The global order materializes through operators/rank.py's
    two-phase rank (range-partitioned running count), NEVER a
    single-partition window — the shape that survives a billion-row
    epoch."""
    from proglog_spark.operators import rank as rank_ops

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = None
    for epoch in (0, 1):
        part = d.select(
            F.lit(epoch).cast("long").alias("epoch"),
            "doc_id",
            sampling.epoch_shuffle_key(F.col("doc_id"), epoch).alias("h"),
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    # ONE two-phase rank over (epoch, h, id): epochs sort first, so the
    # per-epoch rank is the global rank minus a constant offset — half
    # the rank passes of ranking each epoch separately
    ranked, total = rank_ops.with_global_rank(
        keyed, ["epoch", "h", "doc_id"], rank_col="_gr"
    )
    per_epoch = total // 2
    return ranked.select(
        "epoch",
        "doc_id",
        (F.col("_gr") - F.col("epoch") * F.lit(per_epoch)).alias("shuffle_rank"),
    ).orderBy("epoch", "shuffle_rank")


@register(
    "docs_stratified_sample",
    "SELECT doc_id, lang, sample_rank FROM ("
    "SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang "
    f"ORDER BY {_HASH_BUCKET_SQL}, doc_id) AS BIGINT) AS sample_rank "
    "FROM documents) WHERE sample_rank <= 20 ORDER BY lang, sample_rank",
)
def docs_stratified_sample(spark, sf_dir):
    """Exactly-20-per-language stratified sample in hash order — the
    rebalancing step after a skewed crawl. One shuffle on the stratum
    key; deterministic because the (hash, key) order has no ties."""
    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.stratified_sample(d, ["lang"], 20, "doc_id")
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


# ---------------------------------------------------------------------------
# Documents: text analysis + dedup family
# ---------------------------------------------------------------------------


@register(
    "docs_dedup_exact",
    "SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_dupes "
    "FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1",
)
def docs_dedup_exact(spark, sf_dir):
    """A3: exact duplicate groups by content hash."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d).orderBy("content_hash")


@register(
    "docs_text_stats",
    "SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS len_text, "
    "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens_ws "
    "FROM documents ORDER BY doc_id",
)
def docs_text_stats(spark, sf_dir):
    """A4: basic text stats, integer outputs."""
    d = load_table(spark, sf_dir, "documents")
    return text.with_token_stats(d).select(
        "doc_id",
        "n_chars",
        F.length("text").cast("long").alias("len_text"),
        "n_tokens_ws",
    ).orderBy("doc_id")


@register(
    "docs_token_stats",
    f"SELECT doc_id, CAST(len(regexp_extract_all(text, '{text.TOKEN_REGEX}')) AS BIGINT) AS n_tokens_re, "
    "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens "
    "FROM documents ORDER BY doc_id",
)
def docs_token_stats(spark, sf_dir):
    """BPE-ish regex token count + distinct whitespace tokens."""
    d = load_table(spark, sf_dir, "documents")
    return text.with_token_stats(d).select(
        "doc_id", "n_tokens_re", "n_distinct_tokens"
    ).orderBy("doc_id")


@register(
    "docs_lm_transition_score",
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "ix AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w "
    "WHERE len(ws) >= 2), "
    "db AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, "
    "CAST(count(*) AS BIGINT) AS k FROM ix GROUP BY 1, 2, 3), "
    "bg AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c2 FROM db GROUP BY 1, 2), "
    "ug AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bg GROUP BY 1), "
    "m AS (SELECT bg.w1, bg.w2, c2, (c2 * 1000000) // c1 AS p_micro "
    "FROM bg JOIN ug ON bg.w1 = ug.w1) "
    "SELECT db.doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams, "
    "CAST(sum(k * p_micro) // sum(k) AS BIGINT) AS mean_transition_micro, "
    "CAST(sum(CASE WHEN c2 = 1 THEN k ELSE 0 END) AS BIGINT) "
    "AS n_singleton_bigrams "
    "FROM db JOIN m ON db.w1 = m.w1 AND db.w2 = m.w2 "
    "GROUP BY 1 ORDER BY doc_id",
)
def docs_lm_transition_score(spark, sf_dir):
    """Bigram language-model quality scoring (text.lm_transition_scores)
    — the CCNet-perplexity-filter analog, trained on the corpus itself
    and integer-exact end to end (p = c2·10⁶ div c1 on BIGINTs), so
    TRAINING and scoring both sit inside the hash gate. High mean
    transition probability = fluent/repetitive text; singleton
    transitions flag garble. One explode + three reductions + one
    model join-back; AQE skew-join covers stopword-pair hotspots."""
    d = load_table(spark, sf_dir, "documents")
    return text.lm_transition_scores(d).orderBy("doc_id")


def _lm_interp_scores_t(spark, sf_dir) -> DataFrame:
    """The corpus-trained interpolated trigram LM score TABLE
    (doc_id, n_trigrams, mean_interp_micro, n_singleton_trigrams) —
    session-shared between docs_lm_interpolated and
    docs_lm_quality_filter, which previously each re-ran the full
    trigram train-and-score pass (three n-gram reductions + four model
    joins) over the same corpus (r11; guide §5 + §1.2 "don't compute
    things twice"). One slim row per scored doc, memoized handle +
    .cache() exactly like _image_sketch_t: first touch per session
    computes from parquet, clearCache() re-registers on next call, a
    new session starts empty."""
    # cached: both LM consumers read this score table (lifecycle in
    # the docstring; .cache() re-applies per call so clearCache
    # re-registers)
    return _memo_df(
        spark,
        sf_dir,
        "lm_interp_scores",
        lambda: text.lm_interpolated_scores(
            load_table(spark, sf_dir, "documents")
        ),
    ).cache()


@register(
    "docs_lm_interpolated",
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "u AS (SELECT unnest(ws) AS t FROM w), "
    "uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u), "
    "bix AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM w "
    "WHERE len(ws) >= 2), "
    "big AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, "
    "CAST(count(*) AS BIGINT) AS c2 FROM bix GROUP BY 1, 2), "
    "tix AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w "
    "WHERE len(ws) >= 3), "
    "dt AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3, "
    "CAST(count(*) AS BIGINT) AS k FROM tix GROUP BY 1, 2, 3, 4), "
    "tri AS (SELECT w1, w2, w3, CAST(sum(k) AS BIGINT) AS c3 "
    "FROM dt GROUP BY 1, 2, 3), "
    "m AS (SELECT tri.w1, tri.w2, tri.w3, c3, "
    "(c3 * 1000000) // bp.c2 AS p3, "
    "(bs.c2 * 1000000) // u2.c1 AS p2, "
    "(u3.c1 * 1000000) // tot.n AS p1 "
    "FROM tri "
    "JOIN big bp ON tri.w1 = bp.w1 AND tri.w2 = bp.w2 "
    "JOIN big bs ON tri.w2 = bs.w1 AND tri.w3 = bs.w2 "
    "JOIN uni u2 ON tri.w2 = u2.t "
    "JOIN uni u3 ON tri.w3 = u3.t, tot) "
    "SELECT dt.doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams, "
    "CAST(sum(k * ((5 * p3 + 3 * p2 + 2 * p1) // 10)) // sum(k) AS BIGINT) "
    "AS mean_interp_micro, "
    "CAST(sum(CASE WHEN c3 = 1 THEN k ELSE 0 END) AS BIGINT) "
    "AS n_singleton_trigrams "
    "FROM dt JOIN m ON dt.w1 = m.w1 AND dt.w2 = m.w2 AND dt.w3 = m.w3 "
    "GROUP BY 1 ORDER BY doc_id",
)
def docs_lm_interpolated(spark, sf_dir):
    """Jelinek-Mercer interpolated trigram LM scoring
    (text.lm_interpolated_scores) — the smoothed upgrade of the bigram
    tier: p = 0.5·p(w3|w1w2) + 0.3·p(w3|w2) + 0.2·p(w3), every term the
    exact integer (c·10⁶) div ctx, the mixture (5p3+3p2+2p1) div 10,
    so corpus training AND scoring sit inside the hash gate. Three
    n-gram count reductions + three model joins + one score join-back;
    each shuffle carries distinct n-grams, never occurrences. r11:
    reads the session-shared score table (_lm_interp_scores_t) also
    consumed by docs_lm_quality_filter."""
    return _lm_interp_scores_t(spark, sf_dir).orderBy("doc_id")


_LM_KEEP_MICRO = 50_000  # keep docs with mean interpolated p >= 0.05


@register(
    "docs_lm_quality_filter",
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "u AS (SELECT unnest(ws) AS t FROM w), "
    "uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u), "
    "bix AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM w "
    "WHERE len(ws) >= 2), "
    "big AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, "
    "CAST(count(*) AS BIGINT) AS c2 FROM bix GROUP BY 1, 2), "
    "tix AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w "
    "WHERE len(ws) >= 3), "
    "dt AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3, "
    "CAST(count(*) AS BIGINT) AS k FROM tix GROUP BY 1, 2, 3, 4), "
    "tri AS (SELECT w1, w2, w3, CAST(sum(k) AS BIGINT) AS c3 "
    "FROM dt GROUP BY 1, 2, 3), "
    "m AS (SELECT tri.w1, tri.w2, tri.w3, "
    "(c3 * 1000000) // bp.c2 AS p3, "
    "(bs.c2 * 1000000) // u2.c1 AS p2, "
    "(u3.c1 * 1000000) // tot.n AS p1 "
    "FROM tri "
    "JOIN big bp ON tri.w1 = bp.w1 AND tri.w2 = bp.w2 "
    "JOIN big bs ON tri.w2 = bs.w1 AND tri.w3 = bs.w2 "
    "JOIN uni u2 ON tri.w2 = u2.t "
    "JOIN uni u3 ON tri.w3 = u3.t, tot), "
    "sc AS (SELECT dt.doc_id, "
    "CAST(sum(k * ((5 * p3 + 3 * p2 + 2 * p1) // 10)) // sum(k) AS BIGINT) "
    "AS lm_micro FROM dt "
    "JOIN m ON dt.w1 = m.w1 AND dt.w2 = m.w2 AND dt.w3 = m.w3 GROUP BY 1) "
    "SELECT d.doc_id, CAST(coalesce(sc.lm_micro, -1) AS BIGINT) AS lm_micro, "
    f"(sc.lm_micro IS NOT NULL AND sc.lm_micro >= {_LM_KEEP_MICRO}) AS is_kept "
    "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id ORDER BY d.doc_id",
)
def docs_lm_quality_filter(spark, sf_dir):
    """The perplexity filter's DELIVERABLE (the CCNet recipe: score
    every doc with a corpus-trained LM, keep the fluent ones): a
    per-document keep/drop verdict from the interpolated trigram
    score, thresholded at mean p >= 0.05. Docs too short to form a
    trigram score -1 and are dropped — brevity is a quality signal
    here, not an error. Same train-and-score plan as
    docs_lm_interpolated (distinct-n-gram shuffles only) plus one
    left join back to the corpus; the verdict column is what the
    packing/sharding stages consume downstream. r11: rides the
    session-shared score table (_lm_interp_scores_t) instead of
    re-training its own copy of the same LM."""
    d = load_table(spark, sf_dir, "documents")
    sc = _lm_interp_scores_t(spark, sf_dir).select(
        "doc_id", F.col("mean_interp_micro").alias("lm_micro")
    )
    return (
        d.join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lm_micro", F.lit(-1)).alias("lm_micro"),
            (
                F.col("lm_micro").isNotNull()
                & (F.col("lm_micro") >= _LM_KEEP_MICRO)
            ).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


_BM25_QUERIES = [
    (0, "hash"), (0, "join"), (0, "table"),
    (1, "stream"), (1, "window"),
    (2, "vector"), (2, "scan"), (2, "slow"),
]


# shared by docs_bm25_topk (direct path) and docs_bm25_index_topk
# (persistent-index path): the two Spark plans must produce the SAME
# rows, so they gate against the SAME oracle
_BM25_TOPK_ORACLE = (
    "WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1), "
    "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n, "
    "(SELECT CAST(count(*) AS BIGINT) FROM toks) AS s), "
    "qt AS (SELECT * FROM (VALUES "
    + ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    + ") AS v(query_id, term)), "
    "c AS (SELECT qt.query_id, tf.doc_id, "
    "(((tot.n - dfq.df + 1) * 1000000) // (dfq.df + 1)) * "
    "((tf.tf * 44 * 1000000) // (20 * tf.tf + 6 + (18 * dl.dl * tot.n) // tot.s)) "
    "// 1000000 AS contrib "
    "FROM qt JOIN tf USING (term) JOIN dl USING (doc_id) "
    "JOIN dfq USING (term), tot), "
    "sc AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, "
    "CAST(sum(contrib) AS BIGINT) AS score_micro FROM c GROUP BY 1, 2), "
    "ranked AS (SELECT query_id, doc_id, score_micro, row_number() OVER "
    "(PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank FROM sc) "
    "SELECT query_id, doc_id, score_micro, rank FROM ranked WHERE rank <= 10 "
    "ORDER BY query_id, rank"
)


def _bm25_tf_t(spark, sf_dir) -> DataFrame:
    """The full-corpus BM25 term-frequency TABLE (doc_id, term, tf) —
    session-shared across the three BM25 consumers (docs_bm25_topk,
    docs_bm25_index_topk's index build, docs_bm25_decontamination),
    which previously each re-ran the corpus tokenize+groupBy pass
    (r11; guide §5 + §1.2). Tokenization and the (doc, term) count are
    row-local, so the decontamination paths' doc_id-parity filters
    commute through it: filtering the shared table by doc_id % 97
    yields byte-identical statistics to tokenizing the filtered corpus
    (same argument as _image_sketch_t's parity split). dl/df/totals
    still derive per consumer from whatever slice it takes. Memoized
    handle + .cache(): first touch per session computes from parquet,
    clearCache() re-registers on next call, a new session starts
    empty."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        toks = d.select(
            "doc_id",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("term"),
        )
        return toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )

    # cached: the three BM25 consumers read this tf table (lifecycle
    # in the docstring; .cache() re-applies per call so clearCache
    # re-registers)
    return _memo_df(spark, sf_dir, "bm25_tf", build).cache()


@register("docs_bm25_topk", _BM25_TOPK_ORACLE)
def docs_bm25_topk(spark, sf_dir):
    """BM25-shaped retrieval (text.bm25_topk): top-10 documents for
    three multi-term queries, integer-exact — k1/b cleared to
    integers, the float idf replaced by the rational surrogate
    ((N−df+1)·10⁶ div (df+1), monotone in log-idf) so corpus
    statistics, scoring, and ranking all hash-match the oracle. The
    retrieval stage every decontamination / eval-lookup pipeline
    needs next to the LM-quality tier. tf/df/dl are distinct-pair
    reductions; query terms and totals broadcast; per-query top-k is
    two-phase, no global window. r11: rides the session-shared tf
    table (_bm25_tf_t) instead of tokenizing its own corpus pass."""
    d = load_table(spark, sf_dir, "documents")
    tf = _bm25_tf_t(spark, sf_dir).withColumnRenamed("doc_id", "_id")
    return text.bm25_topk(d, _BM25_QUERIES, k=10, tf=tf).orderBy(
        "query_id", "rank"
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a SMALL result so its lineage no longer
    reads the temp artifact the caller is about to delete (the
    streamed gates' eager memory-sink bind applied to file-backed
    artifacts). Only
    ever used on bounded top-k/audit outputs.

    r12: ``localCheckpoint(eager=True)`` instead of
    collect()+createDataFrame — the rows stay in JVM block storage
    (one job, partition order preserved, so a pre-sorted result stays
    sorted), where the old double hop shipped them JVM→driver→JVM once
    per invocation and Python→JVM again at every downstream action.
    Blocks are freed by the ContextCleaner when the returned handle is
    dropped."""
    return df.localCheckpoint(eager=True)


@register("docs_bm25_index_topk", _BM25_TOPK_ORACLE)
def docs_bm25_index_topk(spark, sf_dir):
    """The PERSISTENT-INDEX retrieval path inside the hash gate:
    build the BM25 inverted index on disk (`text.bm25_index_write` —
    term-range-sorted postings files, doc-keyed lengths, one-row
    totals), then answer the same three queries from the INDEX
    (`text.bm25_index_query` — the corpus text is never re-read; the
    query's terms become pushed IN-filters pruning postings files).
    Gates against the IDENTICAL oracle as `docs_bm25_topk`, so the
    index round-trip must be byte-identical to the direct path —
    index staleness, lost postings, or a broken pruning pushdown all
    fail CORRECTNESS. (The pytest twin checks index == direct inside
    one engine; this checks index == independent engine.)"""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="bm25_index_gate_")
    try:
        # r11: the index build consumes the session-shared tf table —
        # byte-identical statistics to its own tokenize pass (the
        # persisted artifact and the query-side pruning are unchanged)
        text.bm25_index_write(d, path, tf=_bm25_tf_t(spark, sf_dir))
        out = _materialize(
            text.bm25_index_query(spark, path, _BM25_QUERIES, k=10).orderBy(
                "query_id", "rank"
            )
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


_BM25_CONTAM_MICRO = 8_000_000


@register(
    "docs_bm25_decontamination",
    "WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents WHERE doc_id % 97 <> 0), "
    "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1), "
    "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents "
    "WHERE doc_id % 97 <> 0) AS n, "
    "(SELECT CAST(count(*) AS BIGINT) FROM toks) AS s), "
    "qt AS (SELECT DISTINCT doc_id AS query_id, "
    "unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term "
    "FROM documents WHERE doc_id % 97 = 0), "
    "c AS (SELECT qt.query_id, tf.doc_id, "
    "(((tot.n - dfq.df + 1) * 1000000) // (dfq.df + 1)) * "
    "((tf.tf * 44 * 1000000) // (20 * tf.tf + 6 + (18 * dl.dl * tot.n) // tot.s)) "
    "// 1000000 AS contrib "
    "FROM qt JOIN tf USING (term) JOIN dl USING (doc_id) "
    "JOIN dfq USING (term), tot), "
    "sc AS (SELECT CAST(query_id AS BIGINT) AS bench_id, doc_id, "
    "CAST(sum(contrib) AS BIGINT) AS score_micro FROM c GROUP BY 1, 2), "
    "ranked AS (SELECT bench_id, doc_id, score_micro, row_number() OVER "
    "(PARTITION BY bench_id ORDER BY score_micro DESC, doc_id) AS rank FROM sc) "
    "SELECT bench_id, doc_id, score_micro, rank, "
    f"score_micro >= {_BM25_CONTAM_MICRO} AS is_contaminated "
    "FROM ranked WHERE rank <= 5 ORDER BY bench_id, rank",
)
def docs_bm25_decontamination(spark, sf_dir):
    """Benchmark decontamination via RETRIEVAL — the soft complement
    of docs_contamination's exact 5-gram overlap, and how the
    retrieval tier is actually consumed by a curation pipeline: each
    held-out benchmark item (doc_id % 97, the docs_contamination
    convention) becomes a BM25 query whose distinct tokens are the
    terms; text.bm25_topk retrieves its top-5 most-similar CORPUS
    documents (benchmark rows excluded from the index — they must not
    retrieve themselves), and a corpus doc scoring above the integer
    threshold is flagged contaminated. Catches paraphrase-level
    contamination exact n-gram matching misses. Plan shape: the
    benchmark term table is collected (an eval suite is small by
    definition — the same boundedness as the broadcast gram set in
    docs_contamination) and broadcast; corpus statistics are the
    bm25_topk distinct-pair reductions, built over the non-benchmark
    corpus only; NO corpus shuffle beyond them; scoring, ranking, and
    the verdict are integer-exact, so the whole audit hash-matches."""
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 97 == 0
    # honest bound on the driver collect (the MAX_ADC_QUERIES
    # discipline): the % 97 predicate is a fixture stand-in for an
    # external benchmark FILE, which is small by nature — but the
    # stand-in grows with the corpus, so assert rather than OOM at a
    # scale the fixture convention was never meant to reach
    max_bench_terms = 1 << 20
    # r11: both the benchmark term table and the corpus statistics ride
    # the session-shared tf table. tf's distinct (doc_id, term) pairs
    # for benchmark docs ARE the exploded-distinct benchmark terms, and
    # the parity filters commute through the row-local tokenize
    # (_bm25_tf_t docstring), so both slices are byte-identical to the
    # former per-consumer corpus passes.
    tf_all = _bm25_tf_t(spark, sf_dir)
    bench_terms = (
        tf_all.where(is_bench)
        .select("doc_id", "term")
        .limit(max_bench_terms + 1)
        .collect()
    )
    assert len(bench_terms) <= max_bench_terms, (
        "benchmark term table exceeds the driver-side bound — point the "
        "decontamination query at a real (small) benchmark set"
    )
    corpus = d.where(~is_bench)
    topk = text.bm25_topk(
        corpus,
        [(int(r["doc_id"]), r["term"]) for r in bench_terms],
        k=5,
        tf=tf_all.where(~is_bench).withColumnRenamed("doc_id", "_id"),
    )
    return (
        topk.select(
            F.col("query_id").alias("bench_id"),
            "doc_id",
            "score_micro",
            "rank",
            (F.col("score_micro") >= F.lit(_BM25_CONTAM_MICRO)).alias(
                "is_contaminated"
            ),
        )
        .orderBy("bench_id", "rank")
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in text.STOPWORDS) + "]"


@register(
    "docs_quality",
    "SELECT doc_id, "
    "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens, "
    f"CAST(len(list_filter(string_split(text,' '), t -> list_contains({_STOP_SQL}, t))) AS BIGINT) AS n_stopwords, "
    "CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct, "
    f"CAST(floor(1000000.0 * len(list_filter(string_split(text,' '), t -> list_contains({_STOP_SQL}, t))) "
    "/ len(string_split(text,' '))) AS BIGINT) AS stopword_micro, "
    "CAST(floor(1000000.0 * len(list_distinct(string_split(text,' '))) "
    "/ len(string_split(text,' '))) AS BIGINT) AS distinct_micro "
    "FROM documents ORDER BY doc_id",
)
def docs_quality(spark, sf_dir):
    """Quality scoring: stopword/punctuation/repetition (micro fixed-point)."""
    d = load_table(spark, sf_dir, "documents")
    return text.with_quality(d).select(
        "doc_id", "n_tokens", "n_stopwords", "n_punct", "stopword_micro", "distinct_micro"
    ).orderBy("doc_id")


def _lang_scores_sql() -> str:
    parts = []
    for lang, marks in text.LANG_MARKERS.items():
        lst = "[" + ", ".join(f"'{m}'" for m in marks) + "]"
        parts.append(
            f"len(list_filter(string_split(text,' '), t -> list_contains({lst}, t))) AS s_{lang}"
        )
    return ", ".join(parts)


def _lang_case_sql() -> str:
    # cascading argmax: earlier languages win ties (same priority rule
    # as the struct-greatest on the Spark side)
    langs = list(text.LANG_MARKERS)
    clauses = []
    for lang in langs:
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


@register(
    "docs_lang_id",
    f"WITH scored AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM documents) "
    f"SELECT doc_id, {_lang_case_sql()} AS predicted_lang, "
    f"lang = {_lang_case_sql()} AS is_match FROM scored ORDER BY doc_id",
)
def docs_lang_id(spark, sf_dir):
    """Language ID via marker-token heuristic; compared to labeled lang."""
    d = load_table(spark, sf_dir, "documents")
    return text.with_lang_id(d).select(
        "doc_id",
        "predicted_lang",
        (F.col("lang") == F.col("predicted_lang")).alias("is_match"),
    ).orderBy("doc_id")


@register(
    "docs_fingerprint",
    # the 0 seed is prepended so the first fold step is (0*31+h0)%p on
    # BOTH engines — a bare list_reduce seeds with the RAW first hash
    # (a 32-bit value that may exceed p), diverging on 1-token docs
    "SELECT doc_id, "
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(text,' '), "
    "t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint "
    "FROM documents ORDER BY doc_id",
)
def docs_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (Karp-Rabin over token hashes)."""
    d = load_table(spark, sf_dir, "documents")
    return text.with_fingerprint(d).select("doc_id", "fingerprint").orderBy("doc_id")


# full simhash sketch as a reusable oracle CTE chain (ends with a
# `sh(doc_id, simhash_lo, simhash_hi)` relation) — shared by the
# sketch query and the hamming near-dup pair query
_SIMHASH_SQL = (
    "WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents), "
    "hashed AS (SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h_lo, "
    "CAST(('0x'||substr(md5(tok),9,8)) AS BIGINT) AS h_hi FROM toks), "
    "bits AS (SELECT doc_id, b.bit, CAST(floor(h_lo / pow(2.0, bit)) AS BIGINT) % 2 AS b_lo, "
    "CAST(floor(h_hi / pow(2.0, bit)) AS BIGINT) % 2 AS b_hi FROM hashed "
    "CROSS JOIN (SELECT unnest(range(32)) AS bit) b), "
    "votes AS (SELECT doc_id, bit, sum(b_lo*2-1) AS v_lo, sum(b_hi*2-1) AS v_hi "
    "FROM bits GROUP BY 1, 2), "
    "sh AS (SELECT doc_id, "
    "CAST(sum(CASE WHEN v_lo > 0 THEN CAST(pow(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo, "
    "CAST(sum(CASE WHEN v_hi > 0 THEN CAST(pow(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi "
    "FROM votes GROUP BY doc_id) "
)


@register(
    "docs_simhash",
    _SIMHASH_SQL + "SELECT doc_id, simhash_lo, simhash_hi FROM sh ORDER BY doc_id",
)
def docs_simhash(spark, sf_dir):
    """64-bit SimHash sketch (two 32-bit words) per document."""
    d = load_table(spark, sf_dir, "documents")
    return (
        dedup.simhash(d)
        .select(F.col("id").alias("doc_id"), "simhash_lo", "simhash_hi")
        .orderBy("doc_id")
    )


_JACCARD_SHINGLES_SQL = (
    "SELECT doc_id, list_distinct(list_transform("
    "range(0, greatest(len(string_split(text,' ')) - 3, 0) + 1), "
    "i -> concat_ws('_', string_split(text,' ')[i+1], "
    "string_split(text,' ')[i+2], string_split(text,' ')[i+3]))) AS sh FROM documents"
)


def _jaccard_pairs_t(spark, sf_dir) -> DataFrame:
    """The exact 3-gram-Jaccard verified-pairs TABLE (id_a, id_b,
    n_common, n_a, n_b, jaccard_micro; threshold 0.2) — session-shared
    across the five exact-dedup consumers (docs_neardup_jaccard,
    docs_dedup_clusters, docs_dedup_keepers, docs_cluster_safe_split,
    docs_minhash_estimate_gate), which previously each re-ran the
    shingle self-join + verification aggregate (r11; guide §5 +
    §1.2 — the shingle-ARRAY cache inside jaccard_pairs was already
    deduplicated by the CacheManager across calls, but the join and
    the verify aggregation re-executed per consumer). Pair-count-sized
    rows (only duplicates survive the threshold — the 10³×-smaller
    tier). Memoized handle + .cache(): first touch per session
    computes from parquet, clearCache() re-registers on next call, a
    new session starts empty."""
    # cached: the five exact-dedup consumers read this pair table
    # (lifecycle in the docstring; .cache() re-applies per call so
    # clearCache re-registers)
    return _memo_df(
        spark,
        sf_dir,
        "jaccard_pairs",
        lambda: dedup.jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold_micro=200000
        ),
    ).cache()


@register(
    "docs_neardup_jaccard",
    f"WITH sh AS ({_JACCARD_SHINGLES_SQL}) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common, "
    "CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b, "
    "CAST(floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT) AS jaccard_micro "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 200000 "
    "ORDER BY id_a, id_b",
)
def docs_neardup_jaccard(spark, sf_dir):
    """Exact 3-gram-Jaccard near-dup pairs (complete inverted-index
    blocking + verification — matches the all-pairs oracle exactly).
    r11: reads the session-shared verified-pairs table
    (_jaccard_pairs_t) the whole exact-dedup family rides."""
    return _jaccard_pairs_t(spark, sf_dir).orderBy("id_a", "id_b")


@register(
    "docs_containment_dedup",
    f"WITH sh AS ({_JACCARD_SHINGLES_SQL}) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common, "
    "CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b, "
    "CAST(floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / len(a.sh)) "
    "AS BIGINT) AS containment_micro "
    "FROM sh a JOIN sh b ON a.doc_id != b.doc_id "
    "WHERE floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / len(a.sh)) "
    ">= 500000 ORDER BY id_a, id_b",
)
def docs_containment_dedup(spark, sf_dir):
    """Asymmetric containment near-dup (dedup.containment_pairs):
    C(A→B) = |A∩B|/|A| catches sub/superset documents — a quote or
    boilerplate-wrapped copy has Jaccard ≈ |A|/|B| (tiny) but
    containment ≈ 1. Directed pairs at C ≥ 0.5 vs an all-pairs
    oracle; same complete inverted-shingle blocking as the Jaccard
    tier, with both directions derived from ONE undirected
    verification aggregate (no second self-join)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, threshold_micro=500000).orderBy(
        "id_a", "id_b"
    )


@register(
    "docs_dedup_clusters",
    f"WITH RECURSIVE sh AS ({_JACCARD_SHINGLES_SQL}), "
    "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 200000), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id) "
    "SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id ORDER BY doc_id",
)
def docs_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER resolution — the step after pair generation in
    every dedup pipeline: connected components over the exact jaccard
    pairs, each clustered doc mapped to its minimum-id representative
    (keep rep, drop the rest). Spark side is iterative min-label
    propagation; oracle is a recursive-CTE transitive closure. r11:
    rides the session-shared verified-pairs table."""
    pairs = _jaccard_pairs_t(spark, sf_dir)
    return (
        dedup.connected_components(pairs)
        .select(F.col("id").alias("doc_id"), F.col("rep").alias("cluster_rep"))
        .orderBy("doc_id")
    )


@register(
    "docs_dedup_keepers",
    f"WITH RECURSIVE sh AS ({_JACCARD_SHINGLES_SQL}), "
    "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 200000), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id), "
    "comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id) "
    "SELECT d.doc_id, (c.id IS NULL OR c.rep = d.doc_id) AS is_kept "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id ORDER BY d.doc_id",
)
def docs_dedup_keepers(spark, sf_dir):
    """The dedup pipeline's actual deliverable: the per-document
    keep/drop verdict. A doc is kept iff it belongs to no near-dup
    cluster or is its cluster's canonical representative (min id).
    Exact duplicates are jaccard-1.0 pairs, so one cluster pass covers
    both exact and near dedup. The cluster map scales with the corpus's
    duplicate count, so its join strategy is AQE's call — broadcast
    when tiny (the common case), doc_id-keyed shuffle of (id, rep)
    pairs (never document text) when not. r11: rides the
    session-shared verified-pairs table."""
    d = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_t(spark, sf_dir)
    clusters = dedup.connected_components(pairs)
    return (
        d.join(clusters, d.doc_id == clusters.id, "left")
        .select(
            "doc_id",
            (F.col("id").isNull() | (F.col("rep") == F.col("doc_id"))).alias(
                "is_kept"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_cluster_safe_split",
    f"WITH RECURSIVE sh AS ({_JACCARD_SHINGLES_SQL}), "
    "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 200000), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id), "
    "comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id), "
    "wr AS (SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_rep "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id) "
    "SELECT doc_id, cluster_rep, CASE WHEN b < 800000 THEN 'train' "
    "WHEN b < 900000 THEN 'valid' ELSE 'test' END AS split FROM "
    "(SELECT doc_id, cluster_rep, CAST('0x' || substr(md5('split' || "
    "CAST(cluster_rep AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS b FROM wr) "
    "ORDER BY doc_id",
)
def docs_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/valid/test assignment: the split key is the
    near-dup CLUSTER representative, not the document id, so two
    near-duplicate documents can never land in different splits — the
    eval-contamination failure mode a doc-keyed split
    (docs_train_split) cannot rule out. Composition of the dedup
    cluster map (iterative min-label propagation; recursive-CTE
    oracle) with the deterministic hash split: unclustered docs key on
    themselves, clustered docs inherit their representative's bucket.
    The cluster map join is AQE's call (tiny in the common case); the
    split itself stays a shuffle-free projection. r11: rides the
    session-shared verified-pairs table."""
    d = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_t(spark, sf_dir)
    clusters = dedup.connected_components(pairs)
    withrep = d.join(clusters, d.doc_id == clusters.id, "left").select(
        "doc_id", F.coalesce("rep", "doc_id").alias("cluster_rep")
    )
    return (
        sampling.train_split(withrep, "cluster_rep")
        .select("doc_id", "cluster_rep", "split")
        .orderBy("doc_id")
    )


@register(
    "docs_median_length",
    "SELECT lang, CAST(floor(median(n_chars) * 10) AS BIGINT) AS median_decichars "
    "FROM documents GROUP BY 1 ORDER BY 1",
)
def docs_median_length(spark, sf_dir):
    """UDAF surface pinned end-to-end: exact per-language median doc
    length through a GROUPED_AGG pandas_udf (functions/udaf). Median
    of integers is k or k+0.5, so ×10 floored is exact cross-engine.
    The docstring in functions/udaf.py explains why builtins
    (F.percentile) beat this path whenever they exist."""
    from proglog_spark.functions.udaf import median_udaf

    d = load_table(spark, sf_dir, "documents")
    # NB: a GROUPED_AGG pandas UDF cannot share an agg() with JVM
    # aggregate functions (INVALID_PANDAS_UDF_PLACEMENT) — one more
    # reason it is the reach-for-last surface
    return (
        d.groupBy("lang")
        .agg(
            F.floor(median_udaf("n_chars") * 10).cast("long").alias("median_decichars")
        )
        .orderBy("lang")
    )


def _minhash_lsh_oracle() -> str:
    """All-SQL replay of minhash_lsh_pairs: same shingles (3-gram
    '_'-joins, md5[:8] base hash), the SAME seeded (a,b) universal-
    hash constants (`dedup.minhash_coeffs`), band candidates via
    EXACT slice equality (Spark's xxhash64 band key collides iff the
    4-tuple slices are equal, modulo a ~2^-64 hash collision), then
    the identical floor(1e6·matches/64) estimate and threshold. The
    approximation is deterministic, so the approximate operator still
    sits in the hash-compared oracle set."""
    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.minhash_coeffs(64))
    )
    return (
        "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), "
        "grams AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(t)-3,0)+1), "
        "i -> concat_ws('_', t[i+1], t[i+2], t[i+3]))) AS g FROM toks), "
        "hx AS (SELECT DISTINCT doc_id, CAST(('0x'||substr(md5(g),1,8)) AS BIGINT) AS x FROM grams), "
        f"ab AS (SELECT * FROM (VALUES {vals}) AS c(i, a, b)), "
        "mins AS (SELECT doc_id, i, min((a * x + b) % 2147483647) AS m "
        "FROM hx CROSS JOIN ab GROUP BY 1, 2), "
        "sigs AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY doc_id), "
        "banded AS (SELECT doc_id, band, list_slice(sig, band*4+1, band*4+4) AS key "
        "FROM sigs CROSS JOIN (SELECT unnest(range(16)) AS band) bs), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id), "
        "est AS (SELECT id_a, id_b, CAST((list_sum(list_transform(range(1, 65), "
        "k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) * 1000000) // 64 AS BIGINT) "
        "AS est_jaccard_micro FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id "
        "JOIN sigs sb ON cand.id_b = sb.doc_id) "
        "SELECT id_a, id_b, est_jaccard_micro FROM est "
        "WHERE est_jaccard_micro >= 200000 ORDER BY id_a, id_b"
    )


@register("docs_minhash_lsh", _minhash_lsh_oracle())
def docs_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (the sub-quadratic scale path).
    Now oracle-exact, not just recall-property-tested: the banding,
    the seeded hash family, and the signature estimate are all
    deterministic, so the SQL oracle replays them bit-for-bit (see
    `_minhash_lsh_oracle`); recall vs exact Jaccard additionally
    stays property-tested via docs_minhash_estimate_gate."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold_micro=200000).orderBy("id_a", "id_b")


@register(
    "docs_simhash_neardup",
    _SIMHASH_SQL
    + "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.simhash_lo, b.simhash_lo)) + "
    "bit_count(xor(a.simhash_hi, b.simhash_hi)) AS BIGINT) AS hamming "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.simhash_lo, b.simhash_lo)) + "
    "bit_count(xor(a.simhash_hi, b.simhash_hi)) <= 3 "
    "ORDER BY id_a, id_b",
)
def docs_simhash_neardup(spark, sf_dir):
    """SimHash Hamming near-dup pairs at the classic 64-bit operating
    point: radius 3 with 4 x 16-bit blocks. Oracle-exact, not just
    property-tested: pigeonhole blocking is COMPLETE for the declared
    radius (blocks >= d+1), and exact hamming verification prunes
    every false bucket collision — so the emitted pair set equals the
    all-pairs hamming<=3 relation the SQL oracle computes over the
    shared simhash CTE. Integer-only throughout."""
    d = load_table(spark, sf_dir, "documents")
    sk = dedup.simhash(d)
    return (
        dedup.hamming_pairs(sk, max_hamming=3, blocks=4)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


@register(
    "docs_simhash_decontamination",
    _SIMHASH_SQL
    + ", cont AS (SELECT DISTINCT a.doc_id FROM sh a JOIN sh b "
    "ON a.doc_id % 97 <> 0 AND b.doc_id % 97 = 0 "
    "AND bit_count(xor(a.simhash_lo, b.simhash_lo)) + "
    "bit_count(xor(a.simhash_hi, b.simhash_hi)) <= 3) "
    "SELECT d.doc_id, (cont.doc_id IS NULL) AS is_kept "
    "FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d "
    "LEFT JOIN cont ON d.doc_id = cont.doc_id ORDER BY d.doc_id",
)
def docs_simhash_decontamination(spark, sf_dir):
    """FUZZY benchmark decontamination — the near-duplicate
    complement to the exact n-gram checks (`docs_contamination`,
    `docs_bm25_decontamination`): a training document is dropped if
    it is a SimHash radius-3 near-dup of ANY held-out benchmark doc
    (doc_id % 97, the suite's benchmark convention) — the standard
    large-pretraining practice, since light paraphrases and
    whitespace edits defeat exact-gram matching but not a 64-bit
    locality hash. Reuses the TWO-SIDED `hamming_pairs` blocking
    (`other=` = the benchmark sketches): the big training side never
    self-joins, each training block probes only the tiny benchmark
    block table — at 10^10 training docs vs 10^5 benchmark items the
    candidate mass is the docs_image_dedup_incremental shape, cost
    proportional to true cross-side collisions (SCALING §18
    asymmetry probe). Output is the per-doc keep/drop ledger the
    curation pipeline consumes; the oracle recomputes the cross-side
    Hamming relation all-pairs over the shared simhash CTE."""
    d = load_table(spark, sf_dir, "documents")
    sk = dedup.simhash(d)
    bench = sk.where(F.col("id") % 97 == 0)
    train = sk.where(F.col("id") % 97 != 0)
    hit = (
        dedup.hamming_pairs(train, max_hamming=3, blocks=4, other=bench)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        d.where(F.col("doc_id") % 97 != 0)
        .select("doc_id")
        .join(hit, "doc_id", "left")
        .select("doc_id", F.col("hit").isNull().alias("is_kept"))
        .orderBy("doc_id")
    )


@register(
    "docs_media_meta",
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
    "hex(encode(substr(text, 1, 4))) AS header_hex FROM documents ORDER BY doc_id",
)
def docs_media_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload → Arrow-batched
    metadata extraction (byte length + magic-bytes hex) via mapInPandas."""
    d = load_table(spark, sf_dir, "documents")
    payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return extract_media_meta(payload).orderBy("doc_id")


@register(
    "docs_frame_sample",
    "WITH f AS (SELECT doc_id, text, "
    "unnest(generate_series(0, CAST(floor((length(text)-1)/64.0) AS BIGINT))) AS k "
    "FROM documents) "
    "SELECT doc_id, k AS frame_idx, "
    "CAST(length(substr(text, CAST(k*64+1 AS BIGINT), 64)) AS BIGINT) AS frame_bytes, "
    "md5(substr(text, CAST(k*64+1 AS BIGINT), 64)) AS frame_md5 "
    "FROM f WHERE k % 2 = 0 ORDER BY doc_id, k",
)
def docs_frame_sample(spark, sf_dir):
    """Video-style frame sampling plumbing: payload → fixed 64-byte
    frames, every 2nd kept, md5 per frame (mapInPandas fan-out; the
    fixture corpus is ASCII so the oracle's char substr == bytes)."""
    from proglog_spark.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return sample_frames(payload, frame_bytes=64, every_n=2).orderBy("doc_id", "frame_idx")


# Oracle replay of the deterministic-fake media pipeline. Valid
# because the fixture text is pure ASCII (byte == code point, so the
# UTF-8 payload is addressable with substr): decode = floor-mean of
# the 64 equal byte slices (empty slice → byte at the slice start),
# resize 8x8 → 4x4 keeps pixels p ∈ {0,2,4,6}(+row*16 steps), and the
# feature is the 16-bucket intensity histogram — all integer math.
_MEDIA_PIPELINE_SQL = (
    "WITH b AS (SELECT doc_id, length(text) AS n, list_transform("
    "range(1, length(text) + 1), i -> unicode(substr(text, i, 1))) AS bs FROM documents), "
    "px AS (SELECT doc_id, p, (p * n) // 64 AS s, ((p + 1) * n) // 64 AS e, n, bs "
    "FROM b CROSS JOIN (SELECT unnest(range(64)) AS p) pp "
    "WHERE p IN (0, 2, 4, 6, 16, 18, 20, 22, 32, 34, 36, 38, 48, 50, 52, 54)), "
    "pix AS (SELECT doc_id, CASE WHEN e = s THEN bs[least(s, n - 1) + 1] "
    "ELSE list_sum(bs[s + 1:e]) // (e - s) END AS v FROM px), "
    "hist AS (SELECT doc_id, v // 16 AS bucket, count(*) AS c FROM pix GROUP BY 1, 2) "
    "SELECT doc_id, CAST(16 AS BIGINT) AS feature_dim, "
    "CAST(sum(c * c) AS BIGINT) AS hist_norm2 "
    "FROM hist GROUP BY doc_id ORDER BY doc_id"
)


@register("docs_media_pipeline", _MEDIA_PIPELINE_SQL)
def docs_media_pipeline(spark, sf_dir):
    """Full media pipeline as ONE chained lineage: decode
    (deterministic fake) → nearest-neighbor resize → pixel-histogram
    features — three Arrow-batched mapInPandas stages, zero joins,
    zero shuffles (each stage is per-row). The feature stage emits
    integer histogram counts (`extract_pixel_histogram`), so the
    whole chain hash-matches the SQL oracle; the L2-normalized float
    feature variant remains for ANN composition (unit-tested). r11:
    the three stages run FUSED (decode_pixel_histogram — bit-identical
    by construction, pinned in test_multimodal) so the pixel grids
    never cross the Arrow boundary; only (doc_id, hist[16]) does."""
    from proglog_spark.multimodal import decode_pixel_histogram

    d = load_table(spark, sf_dir, "documents")
    payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    h = decode_pixel_histogram(payload, height=8, width=8, dim=16, out_h=4, out_w=4)
    return h.select(
        "doc_id",
        F.size("hist").cast("long").alias("feature_dim"),
        F.aggregate(
            "hist", F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("hist_norm2"),
    ).orderBy("doc_id")


# Oracle replay of the perceptual-hash pipeline: thumbnail = the
# deterministic-fake decode (floor-mean byte slices, the proven
# _MEDIA_PIPELINE_SQL pattern) of the payload's first 216 bytes into
# an 8x9 grid (3-byte block means), then the 64-bit dHash bit rule
# px[r][c+1] > px[r][c]. Pure integer math end to end, so both the
# per-doc hash and the pair set hash-gate. The 216-byte window is the
# fixture-honest choice: the corpus' near-duplicate families share
# long PREFIXES, and a positional hash over the FULL byte stream is
# shift-sensitive (an insertion moves every slice boundary — measured:
# zero sub-radius pairs), which real images never suffer (pixels
# don't shift when a photo is re-encoded). Real deployments feed
# dhash64 from decode_images/Pillow grids, where the standard
# radius-3 operating point applies as-is.
#: bytes of payload the image/audio tiers thumbnail — interpolated
#: into _DHASH_CTES, docs_image_feature_topk's oracle, AND the audio
#: round-trip oracle below, so the window widens in ONE place
_THUMB_BYTES = 216

_DHASH_CTES = (
    f"tb AS (SELECT doc_id, substr(text, 1, {_THUMB_BYTES}) AS t FROM documents "
    "WHERE text IS NOT NULL), "
    "b AS (SELECT doc_id, length(t) AS n, list_transform("
    "range(1, length(t) + 1), i -> unicode(substr(t, i, 1))) AS bs FROM tb), "
    "pxx AS (SELECT doc_id, p, (p * n) // 72 AS s, ((p + 1) * n) // 72 AS e, "
    "n, bs FROM b CROSS JOIN (SELECT unnest(range(72)) AS p) pp), "
    # empty text: bs[0] is NULL in DuckDB 1-based indexing, but the
    # fake decoder maps an empty payload to the all-zero grid —
    # coalesce keeps both engines on 0 (latent until a fixture
    # carries an empty document; pinned by gate_mutations + tests)
    "pix AS (SELECT doc_id, p, CASE WHEN e = s THEN coalesce(bs[least(s, n - 1) + 1], 0) "
    "ELSE list_sum(bs[s + 1:e]) // (e - s) END AS v FROM pxx), "
    "g AS (SELECT doc_id, list(v ORDER BY p) AS px FROM pix GROUP BY doc_id), "
    "dh AS (SELECT doc_id, "
    "CAST(list_sum(list_transform(range(0, 32), k -> CASE WHEN "
    "px[(k // 8) * 9 + (k % 8) + 2] > px[(k // 8) * 9 + (k % 8) + 1] "
    "THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS BIGINT) AS lo, "
    "CAST(list_sum(list_transform(range(32, 64), k -> CASE WHEN "
    "px[(k // 8) * 9 + (k % 8) + 2] > px[(k // 8) * 9 + (k % 8) + 1] "
    "THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)) AS BIGINT) AS hi "
    "FROM g) "
)
_DHASH_SQL = "WITH " + _DHASH_CTES


def _image_thumb_payload(d: DataFrame) -> DataFrame:
    """The image tier's shared thumbnail contract: (doc_id, payload)
    where payload is the first _THUMB_BYTES of the document — the
    fake-decode input every image query feeds (rationale in the
    _DHASH_CTES comment above)."""
    return d.select(
        "doc_id",
        F.encode(F.substring("text", 1, _THUMB_BYTES), "UTF-8").alias("payload"),
    )


def _image_sketch(d: DataFrame) -> DataFrame:
    """Thumbnail -> decode -> 64-bit dHash sketch (id, simhash_lo/hi):
    the shared head of every image-dedup query. r11: the fused
    decode_dhash64 stage (bit-identical to dhash64∘decode_media,
    pinned in test_media) — only (id, lo, hi) crosses the Python
    boundary instead of a 72-int pixel array per image."""
    from proglog_spark.multimodal import decode_dhash64

    return decode_dhash64(_image_thumb_payload(d))


def _image_sketch_t(spark, sf_dir) -> DataFrame:
    """The full-corpus image sketch TABLE (id, simhash_lo, simhash_hi)
    — session-shared across the five image-dedup consumers
    (docs_image_dhash / _neardup / _dedup_keepers / _dedup_incremental
    / docs_multimodal_curation), which all previously re-ran the
    decode+hash pass over the same corpus (r11; guide §5 "caching is
    worth it when a DataFrame is reused"). Three longs per image
    (~120 KB at sf0.1 — the 10^3x-smaller fingerprint tier, never
    payloads), memoized handle + .cache() exactly like
    _shot_frame_hashes: first touch per session computes from parquet,
    clearCache() re-registers on next call, a new session starts
    empty."""
    # cached: all five consumers read this sketch table (lifecycle in
    # the docstring; .cache() re-applies per call so clearCache
    # re-registers)
    return _memo_df(
        spark,
        sf_dir,
        "image_sketch",
        lambda: _image_sketch(load_table(spark, sf_dir, "documents")),
    ).cache()


@register(
    "docs_image_dhash",
    _DHASH_SQL + "SELECT doc_id, lo AS dhash_lo, hi AS dhash_hi FROM dh "
    "ORDER BY doc_id",
)
def docs_image_dhash(spark, sf_dir):
    """Per-image 64-bit perceptual difference hash (dHash), the
    standard image-dedup fingerprint: thumbnail the payload through
    the REAL decode stage (`decode_media` at 8x9 — a deployment swaps
    in `decode_images`/Pillow grids unchanged), then one static
    bit-arithmetic projection (`multimodal.dhash64` — built-in
    expressions, whole-stage codegen, no Python, no shuffle). Gated
    per-doc so every one of the 64 bits is pinned by the oracle —
    the blocking query below inherits a verified hash."""
    sk = _image_sketch_t(spark, sf_dir)
    return sk.select(
        F.col("id").alias("doc_id"),
        F.col("simhash_lo").alias("dhash_lo"),
        F.col("simhash_hi").alias("dhash_hi"),
    ).orderBy("doc_id")


@register(
    "docs_image_neardup",
    _DHASH_SQL + "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) "
    "AS hamming FROM dh a JOIN dh b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3 "
    "ORDER BY id_a, id_b",
)
def docs_image_neardup(spark, sf_dir):
    """Perceptual image near-duplicate pairs — the missing standard
    stage of a multimodal training pipeline (VERDICT-r5 item 2):
    dHash thumbnails + Hamming blocking at the classic radius-3 / 4 x
    16-bit-block operating point, REUSING the SimHash banding
    machinery verbatim (`dedup.hamming_pairs` — pigeonhole-complete
    candidate generation, exact Hamming verify, zero new join code).
    Scale posture is the text SimHash one: 16-bit blocks keep buckets
    cold (65k values per block), candidates are narrow rows, and the
    oracle replays the equivalent all-pairs relation. Wider radii
    need more, hotter blocks (the documented recall/cost dial) — at
    production radius <= 3, real photo near-dups differ in a few
    bits and this plan survives 100x unchanged."""
    from proglog_spark.operators import dedup as _dedup

    sk = _image_sketch_t(spark, sf_dir)
    return (
        _dedup.hamming_pairs(sk, max_hamming=3, blocks=4)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


@register(
    "docs_image_dedup_incremental",
    _DHASH_SQL
    + "SELECT CASE WHEN a.doc_id % 2 = 1 THEN a.doc_id ELSE b.doc_id END "
    "AS new_id, "
    "CASE WHEN a.doc_id % 2 = 1 THEN b.doc_id ELSE a.doc_id END AS dup_of, "
    "CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) "
    "AS hamming FROM dh a JOIN dh b ON a.doc_id < b.doc_id "
    "WHERE (a.doc_id % 2) != (b.doc_id % 2) "
    "AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3 "
    "ORDER BY new_id, dup_of",
)
def docs_image_dedup_incremental(spark, sf_dir):
    """Incremental image dedup against a PERSISTED fingerprint index —
    the steady-state shape of a multimodal ingest pipeline: the
    existing corpus's dHash sketches live as a parquet fingerprint
    store (written once, here the even doc_ids), and each new data
    drop (odd doc_ids) hashes only ITSELF and blocks against the
    loaded index — no re-decode, no re-hash of the historical corpus,
    ever. The index is 3 longs/image regardless of image size, so a
    10-billion-image store is ~240 GB of parquet — scannable, and
    prunable further by persisting per-block bucket columns. Blocking
    reuses `hamming_pairs` over the tagged union (parity IS the side
    tag, so cross-side pairs are a filter); emitted pairs orient as
    (new_id, dup_of). The oracle replays the cross-parity Hamming
    relation over the same dHash CTEs — a dropped index row, a
    decode drift, or a broken round-trip all fail the hash."""
    import shutil
    import tempfile

    from proglog_spark.operators import dedup as _dedup

    path = tempfile.mkdtemp(prefix="dhash_index_gate_")
    try:
        # r11: both halves filter the session-shared sketch table
        # instead of re-running the decode per parity side (parity of
        # the sketch's id == parity of doc_id; the row-wise decode
        # neither renumbers nor crosses rows, so filter-after ==
        # filter-before, and the persisted-index contract is
        # unchanged: the even half still round-trips through parquet)
        sk = _image_sketch_t(spark, sf_dir)
        sk.where(F.col("id") % 2 == 0).write.mode("overwrite").parquet(path)
        index = spark.read.parquet(path)
        new_sk = sk.where(F.col("id") % 2 == 1)
        # TWO-SIDED blocking (hamming_pairs other=): only the new
        # drop's blocks probe the index — the index NEVER joins
        # against itself, so per-drop cost is proportional to the
        # drop, not the 10^10-row store (the docstring's contract)
        pairs = _dedup.hamming_pairs(
            new_sk, max_hamming=3, blocks=4, other=index
        )
        out = pairs.select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("dup_of"),
            F.col("hamming").cast("long").alias("hamming"),
        ).orderBy("new_id", "dup_of")
        return _materialize(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "docs_image_dedup_keepers",
    "WITH RECURSIVE " + _DHASH_CTES
    + ", pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM dh a JOIN dh b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id), "
    "comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id) "
    "SELECT d.doc_id, (c.id IS NULL OR c.rep = d.doc_id) AS is_kept "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id ORDER BY d.doc_id",
)
def docs_image_dedup_keepers(spark, sf_dir):
    """The image-dedup pipeline's deliverable, completing the image
    tier's pairs→clusters→keep-list story exactly like the text
    family (`docs_dedup_keepers`): connected components over the
    dHash Hamming pairs, keep a doc iff it is in no perceptual-dup
    cluster or is its cluster's min-id representative. Reuses
    `dedup.connected_components` (bounded driver union-find below the
    edge threshold, large-star/small-star MapReduce-CC above) and the
    keeper left-join idiom unchanged — the cluster map carries (id,
    rep) pairs, never pixels. Oracle replays the transitive closure
    with a recursive CTE over the same dHash CTEs."""
    from proglog_spark.operators import dedup as _dedup

    d = load_table(spark, sf_dir, "documents")
    pairs = _dedup.hamming_pairs(
        _image_sketch_t(spark, sf_dir), max_hamming=3, blocks=4
    )
    clusters = _dedup.connected_components(pairs)
    return (
        d.join(clusters, d.doc_id == clusters.id, "left")
        .select(
            "doc_id",
            (F.col("id").isNull() | (F.col("rep") == F.col("doc_id"))).alias(
                "is_kept"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_image_feature_topk",
    "WITH " + _DHASH_CTES
    + ", hist AS (SELECT doc_id, v // 16 AS bk, CAST(count(*) AS BIGINT) AS c "
    "FROM pix GROUP BY 1, 2), "
    "qs AS (SELECT DISTINCT doc_id AS qid FROM hist WHERE doc_id < 3), "
    "cand AS (SELECT qs.qid, h.doc_id FROM (SELECT DISTINCT doc_id FROM hist) h "
    "CROSS JOIN qs WHERE h.doc_id != qs.qid), "
    "dots AS (SELECT cand.qid AS query_id, cand.doc_id, "
    "CAST(coalesce(sum(h.c * qh.c), 0) AS BIGINT) AS qdot "
    "FROM cand LEFT JOIN hist h ON h.doc_id = cand.doc_id "
    "LEFT JOIN hist qh ON qh.doc_id = cand.qid AND qh.bk = h.bk "
    "GROUP BY 1, 2), "
    "ranked AS (SELECT query_id, doc_id, qdot, row_number() OVER "
    "(PARTITION BY query_id ORDER BY qdot DESC, doc_id) AS rank FROM dots) "
    "SELECT query_id, doc_id, qdot, rank FROM ranked WHERE rank <= 10 "
    "ORDER BY query_id, rank",
)
def docs_image_feature_topk(spark, sf_dir):
    """Image SIMILARITY SEARCH over decoded pixel features — the
    search half of the image tier next to the dHash dedup half
    (mirroring the embedding tier's emb_dot_topk/emb_cosine_neardup
    split): thumbnail → integer 16-bin intensity histogram
    (`extract_pixel_histogram`, the hash-gated feature stage) →
    brute-force top-10 by integer histogram dot product, broadcast
    queries, one corpus pass, per-query rank pushdown. Every stage
    is the exact-integer twin of the float pipeline a real deployment
    runs (L2-normalized features into the ANN family — the
    emb_* indexes take over at billon-image scale; this gate pins
    the feature math and ranking semantics those compositions stand
    on)."""
    from proglog_spark.multimodal import decode_pixel_histogram
    from proglog_spark.operators.topk import topk_per_key

    d = load_table(spark, sf_dir, "documents")
    # cached: h feeds BOTH the corpus branch and the query branch —
    # without it the q = h.where(doc_id < 3) branch re-runs the whole
    # decode+histogram UDF pass over the corpus (predicates do not
    # push through mapInPandas); same move hamming_pairs makes.
    # r11: decode + histogram run FUSED (decode_pixel_histogram) so
    # only (doc_id, hist[16]) crosses the Arrow boundary.
    h = (
        decode_pixel_histogram(_image_thumb_payload(d), height=8, width=9, dim=16)
        .where(F.col("hist").isNotNull())
        .cache()
    )
    q = h.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("hist").alias("qh")
    )
    dot = F.aggregate(
        F.zip_with("hist", "qh", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        h.crossJoin(F.broadcast(q))
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", dot.alias("qdot"))
    )
    return (
        topk_per_key(
            scored,
            ["query_id"],
            [F.desc("qdot"), F.asc("doc_id")],
            k=10,
            rank_col="rank",
        )
        .select("query_id", "doc_id", "qdot", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "docs_image_png_roundtrip",
    _DHASH_SQL + "SELECT g.doc_id, dh.lo AS dhash_lo, dh.hi AS dhash_hi, "
    "CAST(list_sum(g.px) AS BIGINT) AS px_sum, "
    "CAST(list_sum(g.px) AS BIGINT) AS rgb_luma_sum "
    "FROM g JOIN dh USING (doc_id) ORDER BY g.doc_id",
)
def docs_image_png_roundtrip(spark, sf_dir):
    """REAL image-format round-trip inside the hash gate — the PNG
    twin of `docs_audio_wav_roundtrip`, closing VERDICT-r6 item 2 and
    the ADVICE-r7 missing-gate finding: each doc's verified 8x9
    thumbnail grid travels through `encode_png` → genuine PNG bytes →
    `multimodal.png.decode_png` (stdlib bounded inflate, CRC
    verification, chunk framing, all five scanline unfilters) TWICE —
    8-bit grayscale and 8-bit truecolor with gray replicated into
    (v, v, v), whose integer ITU-R 601 luma is exactly v — then the
    DECODED grid feeds the already-verified `dhash64`. The oracle
    recomputes the dHash words and pixel sums straight from the
    characters (the `_DHASH_CTES` replay), so any filter-recurrence
    error, CRC/framing bug, raster mis-length, or gray/RGB stride
    mix-up diverges and goes RED. The encoder cycles the scanline
    filter by row index mod 5, so one 8-row image exercises every
    decoder filter path at BOTH byte strides (bpp=1 and bpp=3). r11:
    the decode → round-trip → sums+dHash chain runs FUSED
    (`png_roundtrip_sketch`, bit-identical to the composed operators
    by single-sourcing — pinned in test_png) so only the five
    decision longs cross the Python boundary — ONE mapInPandas, zero
    joins, zero shuffles before the final sort."""
    from proglog_spark.multimodal import png_roundtrip_sketch

    d = load_table(spark, sf_dir, "documents")
    sk = png_roundtrip_sketch(_image_thumb_payload(d))
    return sk.select(
        "doc_id",
        F.col("simhash_lo").alias("dhash_lo"),
        F.col("simhash_hi").alias("dhash_hi"),
        "px_sum",
        "rgb_luma_sum",
    ).orderBy("doc_id")


@register(
    "docs_video_frame_containment",
    "WITH f AS (SELECT doc_id, unnest(range(0, "
    "CAST(ceil(length(text) / 64.0) AS BIGINT))) AS k, text FROM documents "
    "WHERE text IS NOT NULL), "
    "sh AS (SELECT DISTINCT doc_id, "
    "md5(substr(text, CAST(k * 64 + 1 AS BIGINT), 64)) AS h FROM f), "
    "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1), "
    "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(count(*) AS BIGINT) AS n_shared FROM sh a "
    "JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, n_shared, "
    "CAST(floor(1000000.0 * n_shared / least(sa.n, sb.n)) AS BIGINT) "
    "AS containment_micro "
    "FROM cand JOIN sizes sa ON cand.id_a = sa.doc_id "
    "JOIN sizes sb ON cand.id_b = sb.doc_id "
    "WHERE floor(1000000.0 * n_shared / least(sa.n, sb.n)) >= 500000 "
    "ORDER BY id_a, id_b",
)
def docs_video_frame_containment(spark, sf_dir):
    """Video-tier dedup: frame-level containment — the video twin of
    the text tier's ExactSubstr shape (`docs_repeated_span_dedup`)
    and the dedup stage a video training pipeline runs after
    `sample_frames` keyframe extraction. Every payload chunks into
    64-byte frames (`multimodal.sample_frames` with every_n=1, the
    REAL mapInPandas fan-out stage — a deployment swaps in an ffmpeg
    keyframe iterator + perceptual frame hash), then pairs whose
    shared-distinct-frame count covers >= 50% of the smaller clip's
    frames emit with their exact containment. Sub-quadratic by
    construction: candidates come from the frame-hash equi-join
    (shared frames only — the shuffle carries 16-byte hashes, never
    payloads), counts reduce map-side, and each clip's frame count
    rides the exploded rows. ASCII fixture => the oracle's char-substr
    md5 equals the byte-chunk md5."""
    from proglog_spark.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    frames = sample_frames(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        frame_bytes=64,
        every_n=1,
    )
    # r12 (the jaccard_pairs idiom, guide §2.3/§2.4): the per-doc
    # distinct-frame SET is built once (one doc-keyed shuffle), its
    # size rides the exploded rows, and the table is cached — the
    # previous shape ran the sample_frames Python fan-out into an
    # UNCACHED distinct table read by three consumers and joined the
    # size table back onto the verified pairs twice (broadcastable
    # locally, a doc-count-sized SMJ at corpus scale).
    shn = (
        frames.groupBy("doc_id")
        .agg(F.collect_set("frame_md5").alias("hs"))
        .select(
            "doc_id",
            F.size("hs").cast("long").alias("n"),
            F.explode("hs").alias("h"),
        )
        .cache()
    )
    cand = (
        blocked_pairs(shn, ["h"], id_col="doc_id", carry=["n"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    contain = F.floor(
        F.lit(1000000.0)
        * F.col("n_shared")
        / F.least(F.col("n_a"), F.col("n_b"))
    ).cast("long")
    return (
        cand.select("id_a", "id_b", "n_shared", contain.alias("containment_micro"))
        .where(F.col("containment_micro") >= 500000)
        .orderBy("id_a", "id_b")
    )


# Frame-level replay of the perceptual video hash: the same pixel /
# dHash math as _DHASH_CTES keyed by (doc_id, k) — each 72-byte frame
# is its own 8x9 thumbnail (1 byte per pixel on full frames; the
# general slice-mean math covers the short final frame).
_FRAME_DHASH_CTES = (
    "f AS (SELECT doc_id, unnest(range(0, "
    "CAST(ceil(length(text) / 72.0) AS BIGINT))) AS k, text FROM documents "
    "WHERE text IS NOT NULL), "
    "tb AS (SELECT doc_id, k, substr(text, CAST(k * 72 + 1 AS BIGINT), 72) "
    "AS t FROM f), "
    "b AS (SELECT doc_id, k, length(t) AS n, list_transform("
    "range(1, length(t) + 1), i -> unicode(substr(t, i, 1))) AS bs FROM tb), "
    "pxx AS (SELECT doc_id, k, p, (p * n) // 72 AS s, ((p + 1) * n) // 72 AS e, "
    "n, bs FROM b CROSS JOIN (SELECT unnest(range(72)) AS p) pp), "
    "pix AS (SELECT doc_id, k, p, CASE WHEN e = s THEN "
    "coalesce(bs[least(s, n - 1) + 1], 0) "
    "ELSE list_sum(bs[s + 1:e]) // (e - s) END AS v FROM pxx), "
    "g AS (SELECT doc_id, k, list(v ORDER BY p) AS px FROM pix "
    "GROUP BY doc_id, k), "
    "dh AS (SELECT doc_id, k, "
    "CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN "
    "px[(j // 8) * 9 + (j % 8) + 2] > px[(j // 8) * 9 + (j % 8) + 1] "
    "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS lo, "
    "CAST(list_sum(list_transform(range(32, 64), j -> CASE WHEN "
    "px[(j // 8) * 9 + (j % 8) + 2] > px[(j // 8) * 9 + (j % 8) + 1] "
    "THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)) AS BIGINT) AS hi "
    "FROM g) "
)


@register(
    "docs_video_perceptual_containment",
    "WITH " + _FRAME_DHASH_CTES
    + ", sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dh "
    "GROUP BY 1), "
    "mp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.k AS ka, b.k AS kb "
    "FROM dh a JOIN dh b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3), "
    "agg AS (SELECT id_a, id_b, count(DISTINCT ka) AS ma, "
    "count(DISTINCT kb) AS mb FROM mp GROUP BY 1, 2) "
    "SELECT id_a, id_b, "
    "CAST(CASE WHEN sa.n <= sb.n THEN ma ELSE mb END AS BIGINT) "
    "AS n_matched_small, "
    "CAST(floor(1000000.0 * (CASE WHEN sa.n <= sb.n THEN ma ELSE mb END) "
    "/ least(sa.n, sb.n)) AS BIGINT) AS containment_micro "
    "FROM agg JOIN sizes sa ON agg.id_a = sa.doc_id "
    "JOIN sizes sb ON agg.id_b = sb.doc_id "
    "WHERE floor(1000000.0 * (CASE WHEN sa.n <= sb.n THEN ma ELSE mb END) "
    "/ least(sa.n, sb.n)) >= 500000 "
    "ORDER BY id_a, id_b",
)
def docs_video_perceptual_containment(spark, sf_dir):
    """PERCEPTUAL video-frame near-containment — VERDICT-r6 item 3:
    `docs_video_frame_containment` matches frames by exact md5, so a
    re-encoded/slightly-edited clip shares ZERO exact hashes; this is
    the production-shaped composition of the three gate-verified
    pieces — frame chunking, per-frame dHash (each 72-byte frame
    decodes as its own 8x9 thumbnail through the verified fake-decode
    slice math; a deployment feeds real keyframe rasters), and
    `hamming_pairs` radius-3 blocking — so frames differing in a few
    perceptual bits still match. A clip pair emits when the SMALLER
    clip has >= 50% of its frames near-matched in the other. Scale
    posture: the shuffle carries (frame_uid, two 32-bit words) —
    never frame payloads; candidates come from pigeonhole-complete
    16-bit-block buckets (no all-pairs anywhere); the per-doc size
    table is a narrow reduce. The frame_uid packing (doc_id << 20 | k)
    is guarded JVM-side: a clip beyond 2^20 frames fails loudly
    instead of aliasing into another doc's uid space."""
    from proglog_spark.multimodal import decode_dhash64
    from proglog_spark.operators import dedup as _dedup

    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    k = F.col("k")
    frames = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.ceil(F.length("text") / F.lit(72.0)).cast("long") - 1,
            )
        ).alias("k"),
        "text",
    ).select(
        F.when(
            k < F.lit(1 << 20),
            F.col("doc_id") * F.lit(1 << 20).cast("long") + k,
        )
        .otherwise(
            F.raise_error(F.lit("frame index >= 2^20 would alias frame_uid"))
        )
        .alias("frame_uid"),
        F.encode(
            F.substring(F.col("text"), (k * 72 + 1).cast("int"), F.lit(72)),
            "UTF-8",
        ).alias("payload"),
    )
    sk = decode_dhash64(frames, id_col="frame_uid")
    pairs = _dedup.hamming_pairs(sk, max_hamming=3, blocks=4)
    agg = (
        pairs.select(
            F.shiftright("id_a", 20).alias("da"),
            F.shiftright("id_b", 20).alias("db"),
            (F.col("id_a") % F.lit(1 << 20)).alias("ka"),
            (F.col("id_b") % F.lit(1 << 20)).alias("kb"),
        )
        .where(F.col("da") != F.col("db"))
        .groupBy(F.col("da").alias("id_a"), F.col("db").alias("id_b"))
        .agg(
            F.countDistinct("ka").alias("ma"),
            F.countDistinct("kb").alias("mb"),
        )
    )
    sizes = d.select(
        "doc_id",
        (F.ceil(F.length("text") / F.lit(72.0)).cast("long")).alias("n"),
    )
    matched = F.when(F.col("n_a") <= F.col("n_b"), F.col("ma")).otherwise(
        F.col("mb")
    )
    contain = F.floor(
        F.lit(1000000.0) * matched / F.least(F.col("n_a"), F.col("n_b"))
    ).cast("long")
    return (
        join_payload(agg, sizes, id_col="doc_id")
        .select(
            "id_a",
            "id_b",
            matched.cast("long").alias("n_matched_small"),
            contain.alias("containment_micro"),
        )
        .where(F.col("containment_micro") >= 500000)
        .orderBy("id_a", "id_b")
    )


@register(
    "docs_multimodal_curation",
    "WITH RECURSIVE " + _DHASH_CTES
    + ", pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM dh a JOIN dh b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id), "
    "comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id), "
    "per_doc AS (SELECT d.source, "
    "(c.id IS NULL OR c.rep = d.doc_id) AS img_kept, "
    "(len(string_split(d.text, ' ')) >= 20 AND "
    "floor(1000000.0 * len(list_distinct(string_split(d.text, ' '))) "
    "/ len(string_split(d.text, ' '))) >= 300000) AS qual "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN NOT img_kept THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_image_dup_dropped, "
    "CAST(sum(CASE WHEN img_kept AND NOT qual THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_quality_dropped, "
    "CAST(sum(CASE WHEN img_kept AND qual THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_kept FROM per_doc GROUP BY source ORDER BY source",
)
def docs_multimodal_curation(spark, sf_dir):
    """Multimodal curation accounting — the cross-tier twin of the
    flagship `docs_curation_pipeline`: perceptual image dedup
    (dHash pairs → connected components → min-id keeper) composed
    with the text quality gate (token count + distinct-token ratio,
    `text.with_quality`) into per-source keep/drop accounting, drop
    reasons prioritized image-dup-first (the order a production
    pipeline applies them: dedup before spending quality compute).
    The cluster map is the only driver-mediated step (bounded
    union-find below the edge threshold, MapReduce-CC above); the
    quality gate, the keeper join-back (an (id, rep) map, never
    pixels), and the accounting are one Catalyst tree — the text
    column scans once."""
    from proglog_spark.operators import dedup as _dedup
    from proglog_spark.operators.text import with_quality

    d = load_table(spark, sf_dir, "documents")
    pairs = _dedup.hamming_pairs(
        _image_sketch_t(spark, sf_dir), max_hamming=3, blocks=4
    )
    clusters = _dedup.connected_components(pairs)
    per_doc = (
        with_quality(d)
        .join(clusters, F.col("doc_id") == clusters.id, "left")
        .select(
            "source",
            (F.col("id").isNull() | (F.col("rep") == F.col("doc_id"))).alias(
                "img_kept"
            ),
            (
                (F.col("n_tokens") >= 20) & (F.col("distinct_micro") >= 300000)
            ).alias("qual"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("img_kept")).cast("long")).alias("n_image_dup_dropped"),
            F.sum((F.col("img_kept") & ~F.col("qual")).cast("long")).alias(
                "n_quality_dropped"
            ),
            F.sum((F.col("img_kept") & F.col("qual")).cast("long")).alias(
                "n_kept"
            ),
        )
        .orderBy("source")
    )


def _wav8_mono_payloads(spark, sf_dir):
    """(doc_id, payload) where payload is a genuine 8-bit mono 8 kHz
    RIFF/WAVE file whose sample stream is the doc's first
    ``_THUMB_BYTES`` bytes, CONSTRUCTED ENTIRELY JVM-SIDE (fixed
    header fields as unhex literals, the two length fields as per-row
    little-endian hex arithmetic — built-in functions only, no Python
    on the build side). Shared by the audio round-trip gate and the
    audio fingerprint/near-dup family, so every audio query exercises
    the REAL codec path end to end."""

    def le_bytes(col, n_bytes):
        # little-endian byte string of an int column, via hex+unhex
        # (char() would UTF-8-expand code points >= 128)
        parts = [
            F.lpad(F.hex((col / (256**i)).cast("long") % 256), 2, "0")
            for i in range(n_bytes)
        ]
        return F.unhex(F.concat(*parts))

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = F.substring("text", 1, _THUMB_BYTES)
    n = F.octet_length(F.encode(t, "UTF-8"))
    wav = F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"), le_bytes(n + F.lit(36), 4),
        F.encode(F.lit("WAVEfmt "), "UTF-8"), le_bytes(F.lit(16), 4),
        F.unhex(F.lit("01000100")),        # PCM=1, channels=1 (LE16 x2)
        le_bytes(F.lit(8000), 4), le_bytes(F.lit(8000), 4),  # rate, byterate
        F.unhex(F.lit("01000800")),        # block align=1, bits=8 (LE16 x2)
        F.encode(F.lit("data"), "UTF-8"), le_bytes(n, 4),
        F.encode(t, "UTF-8"),
    )
    return d.select("doc_id", wav.alias("payload"))


@register(
    "docs_audio_wav_roundtrip",
    # empty-text agreement: DuckDB's list_sum([]) and a [1:0] slice
    # are NULL, but a valid 0-sample WAV decodes to energy=0 and an
    # empty prefix — coalesce keeps both engines on the decoder's
    # answer (latent until a fixture carries an empty document)
    f"WITH tb AS (SELECT doc_id, substr(text, 1, {_THUMB_BYTES}) AS t "
    "FROM documents WHERE text IS NOT NULL), "
    "s AS (SELECT doc_id, length(t) AS n, list_transform("
    "range(1, length(t) + 1), i -> unicode(substr(t, i, 1)) - 128) AS ss "
    "FROM tb) "
    "SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate, "
    "CAST(1 AS INTEGER) AS n_channels, CAST(n AS BIGINT) AS n_samples, "
    "CAST(coalesce(list_sum(list_transform(ss, x -> x * x)), 0) AS BIGINT) "
    "AS energy, "
    "coalesce(array_to_string(ss[1:least(n, 16)], ','), '') AS prefix_csv "
    "FROM s ORDER BY doc_id",
)
def docs_audio_wav_roundtrip(spark, sf_dir):
    """REAL audio-format round-trip inside the hash gate: each doc's
    first 216 bytes become the sample stream of a genuine RIFF/WAVE
    file built JVM-side (`_wav8_mono_payloads`), then
    `multimodal.decode_audio` parses it with the stdlib ``wave``
    reader + numpy and emits integer sample facts. The oracle
    recomputes those facts straight from the characters (byte value =
    code point on the ASCII corpus, 8-bit PCM centers at 128), so ANY
    header-math error (RIFF/data chunk sizes, LE encoding),
    sampwidth mishandling, truncation, or centering bug goes RED.
    This moves the WAV decoder — previously property-tested only —
    into the driver's oracle gate, and completes the multimodal tier
    trio: image (dHash family), audio (this), video-style frame
    sampling (`docs_frame_sample`). Embarrassingly parallel: one
    projection + one mapInPandas, no shuffle before the final sort."""
    from proglog_spark.multimodal import decode_audio

    dec = decode_audio(_wav8_mono_payloads(spark, sf_dir), prefix=16)
    return dec.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        "energy",
        F.array_join("sample_prefix", ",").alias("prefix_csv"),
    ).orderBy("doc_id")


# Oracle replay of the audio perceptual-hash pipeline: samples = the
# doc's first 216 bytes centered at 128 (what the real WAV round-trip
# decodes to on the ASCII corpus), 65 frames of 3 samples, frame
# energy = integer Σs² (missing samples past a short clip contribute
# 0), bit k set iff energy[k+1] > energy[k]. Pure integer math end to
# end, so both the per-doc hash and the near-dup pair set hash-gate.
# The 216-sample window is the same fixture-honest choice the image
# dHash documents above: the corpus' near-dup families share long
# PREFIXES, and a positional hash over the FULL stream is
# shift-sensitive; real audio fingerprints run this per overlapping
# analysis window over the whole signal.
_AHASH_CTES = (
    f"atb AS (SELECT doc_id, substr(text, 1, {_THUMB_BYTES}) AS t "
    "FROM documents WHERE text IS NOT NULL), "
    "asg AS (SELECT doc_id, list_transform(range(1, length(t) + 1), "
    "i -> unicode(substr(t, i, 1)) - 128) AS ss FROM atb), "
    "aen AS (SELECT doc_id, list_transform(range(0, 65), k -> "
    "coalesce(list_sum(list_transform(ss[k*3+1:k*3+3], x -> x * x)), 0)) AS e "
    "FROM asg), "
    "ah AS (SELECT doc_id, "
    "CAST(list_sum(list_transform(range(0, 32), k -> CASE WHEN e[k+2] > e[k+1] "
    "THEN (1::BIGINT << k) ELSE 0 END)) AS BIGINT) AS ahash_lo, "
    "CAST(list_sum(list_transform(range(32, 64), k -> CASE WHEN e[k+2] > e[k+1] "
    "THEN (1::BIGINT << (k - 32)) ELSE 0 END)) AS BIGINT) AS ahash_hi FROM aen)"
)


def _audio_fingerprints(spark, sf_dir):
    """(id, simhash_lo, simhash_hi) audio fingerprints through the
    REAL codec path: JVM-built WAV bytes → stdlib ``wave`` decode
    (mapInPandas) → `multimodal.audio_ahash64` frame-energy
    differential hash (built-in expressions, codegen). Shared by the
    fingerprint query and the perceptual near-dup query (r11: handle
    memoized so the 130-expression hash projection analyzes once per
    session, and built on the session-shared energy envelope below —
    ahash64_from_energies is the split-out bit-packing half of
    audio_ahash64, identical by construction)."""

    def build():
        from proglog_spark.multimodal import ahash64_from_energies

        return ahash64_from_energies(_audio_energies(spark, sf_dir))

    return _memo_df(spark, sf_dir, "audio_fingerprints", build)


def _audio_energies(spark, sf_dir):
    """The audio tier's 65-frame integer energy ENVELOPE table
    (id, energies ARRAY<BIGINT>) — the real shared head of the family
    (r11): the WAV decode (Python stage) + 65 slice-aggregate
    envelope feeds BOTH the fingerprint chain (audio_ahash64 hashes
    the envelope's difference signs) and envelope similarity search
    (docs_audio_energy_topk dots it), which previously each ran their
    own decode pass over the same corpus. One row of 65 longs per
    clip; memoized handle + .cache() with the standard lifecycle
    (first touch computes from parquet, clearCache() re-registers,
    new session starts empty)."""

    def build():
        from proglog_spark.multimodal import audio_frame_energies, decode_audio

        dec = decode_audio(
            _wav8_mono_payloads(spark, sf_dir), prefix=_THUMB_BYTES
        )
        return audio_frame_energies(dec)

    # cached: both the fingerprint chain and the envelope top-k read
    # this (lifecycle in the docstring; .cache() re-applies per call
    # so clearCache re-registers)
    return _memo_df(spark, sf_dir, "audio_energies", build).cache()


@register(
    "docs_audio_fingerprint",
    "WITH " + _AHASH_CTES
    + " SELECT doc_id, ahash_lo, ahash_hi FROM ah ORDER BY doc_id",
)
def docs_audio_fingerprint(spark, sf_dir):
    """64-bit perceptual AUDIO fingerprint inside the hash gate, via
    the REAL codec round-trip: JVM-built RIFF/WAVE bytes → stdlib
    ``wave`` parse → frame-energy differential hash (the dHash idea
    on the short-time energy envelope — the sign-of-band-difference
    core of Chromaprint/Shazam-style fingerprints). The oracle
    recomputes the hash straight from the characters, so a decode,
    centering, framing, or bit-packing bug anywhere in the chain
    goes RED. Per-row only: one projection (WAV build) + one
    mapInPandas (decode) + codegen'd bit arithmetic, no shuffle
    before the final sort — embarrassingly parallel at any corpus
    size."""
    return (
        _audio_fingerprints(spark, sf_dir)
        .select(
            F.col("id").alias("doc_id"),
            F.col("simhash_lo").alias("ahash_lo"),
            F.col("simhash_hi").alias("ahash_hi"),
        )
        .orderBy("doc_id")
    )


def _audio_hamming3_pairs(spark, sf_dir):
    """Radius-3 audio near-dup pairs (id_a, id_b, hamming) through
    `dedup.hamming_pairs` blocking — the audio tier's pair table,
    consumed by BOTH docs_audio_perceptual_neardup and the
    cross-modality docs_av_dedup_verdicts gate (r11: factored +
    cached so the blocking join runs once per session, not once per
    consumer). One row per within-radius pair (pair-count-sized, the
    same bound the oracle's all-pairs twin carries); session-scoped
    like the other tier caches, reclaimable via
    spark.catalog.clearCache()."""
    # cached: both consumer queries read this pair table (marker for
    # the cache lint; lifecycle as in the docstring above; .cache()
    # re-applies per call so clearCache re-registers the entry)
    return _memo_df(
        spark,
        sf_dir,
        "audio_hamming3_pairs",
        lambda: dedup.hamming_pairs(
            _audio_fingerprints(spark, sf_dir), max_hamming=3, blocks=4
        ),
    ).cache()


@register(
    "docs_audio_perceptual_neardup",
    "WITH " + _AHASH_CTES
    + " SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.ahash_lo, b.ahash_lo)) + "
    "bit_count(xor(a.ahash_hi, b.ahash_hi)) AS BIGINT) AS hamming "
    "FROM ah a JOIN ah b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.ahash_lo, b.ahash_lo)) + "
    "bit_count(xor(a.ahash_hi, b.ahash_hi)) <= 3 "
    "ORDER BY id_a, id_b",
)
def docs_audio_perceptual_neardup(spark, sf_dir):
    """Perceptual audio near-duplicate pairs — completes the
    perceptual-dedup tier MATRIX (text SimHash, image dHash, video
    frame-dHash, audio energy-hash), all four riding the SAME
    verified pigeonhole machinery: `audio_ahash64` fingerprints
    (real WAV decode upstream) → `dedup.hamming_pairs` radius-3
    blocking (4 x 16-bit blocks, candidate generation COMPLETE for
    the radius, exact Hamming verify) → the pair set the SQL oracle
    computes all-pairs. The shuffle carries (id, two 32-bit words)
    only — never samples or payloads; at 10^10 clips the blocking
    join is the same sub-quadratic scale path the text/image tiers
    measured (SCALING §17)."""
    return (
        _audio_hamming3_pairs(spark, sf_dir)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


@register(
    "docs_audio_energy_topk",
    "WITH " + _AHASH_CTES
    + ", aqs AS (SELECT doc_id AS qid, e AS qe FROM aen WHERE doc_id < 3), "
    "adots AS (SELECT aqs.qid AS query_id, a.doc_id, "
    "CAST(list_sum(list_transform(range(1, 66), i -> a.e[i] * aqs.qe[i])) "
    "AS BIGINT) AS qdot FROM aen a CROSS JOIN aqs WHERE a.doc_id != aqs.qid), "
    "aranked AS (SELECT query_id, doc_id, qdot, row_number() OVER "
    "(PARTITION BY query_id ORDER BY qdot DESC, doc_id) AS rank FROM adots) "
    "SELECT query_id, doc_id, qdot, rank FROM aranked WHERE rank <= 10 "
    "ORDER BY query_id, rank",
)
def docs_audio_energy_topk(spark, sf_dir):
    """Audio SIMILARITY SEARCH over the decoded energy envelope — the
    search half of the audio tier next to the perceptual-dedup half,
    completing per-modality search (text BM25, embeddings ANN, image
    histogram top-k, audio THIS): real WAV decode →
    `audio_frame_energies` (65-frame integer Σs² envelope, the
    feature vector audio fingerprinting quantizes) → brute-force
    top-10 by integer envelope dot product. The emb_dot_topk posture
    on audio features: broadcast the 3 query envelopes, one corpus
    pass, per-query rank pushdown moving only (ids, score). At
    billion-clip scale the envelope feeds the emb_* ANN families
    (LSH/IVF/PQ/SQ8) exactly as image features do; this gate pins the
    feature math and ranking semantics those compositions stand on."""
    from proglog_spark.operators.topk import topk_per_key

    # r11: the envelope is the session-shared _audio_energies table
    # (also the fingerprint family's feed), so the WAV decode pass
    # runs once per session for the whole audio tier instead of once
    # per consumer; the cache also serves this query's corpus/query
    # double read exactly as the per-call .cache() here used to
    en = _audio_energies(spark, sf_dir)
    q = en.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("energies").alias("qe")
    )
    scored = (
        en.crossJoin(F.broadcast(q))
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("doc_id"),
            F.aggregate(
                F.zip_with("energies", "qe", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    return (
        topk_per_key(
            scored, ["query_id"], [F.col("qdot").desc(), F.col("doc_id")], 10,
            rank_col="rank",
        )
        .select("query_id", "doc_id", "qdot", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Embeddings: similarity search + hygiene
# ---------------------------------------------------------------------------


@register(
    "emb_exact_dup",
    "SELECT count(*) AS n_dup_groups FROM "
    "(SELECT embedding, count(*) AS c FROM embeddings GROUP BY 1 HAVING count(*) > 1)",
)
def emb_exact_dup(spark, sf_dir):
    """A6: exact-duplicate vector groups (list equality)."""
    e = load_table(spark, sf_dir, "embeddings")
    dupes = e.groupBy("embedding").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > 1)
    return dupes.agg(F.count(F.lit(1)).alias("n_dup_groups"))


_QUERY_VECS = "(0, 1, 2)"


def _emb_n(spark, sf_dir) -> int:
    """Exact row count of the embeddings corpus, session-memoized
    (r11): SEVEN emb queries feed it to the adaptive sizing ladders
    (adaptive_lsh_bits / adaptive_ivf_cells), and each previously ran
    its own count() job over the same immutable fixture. The ladders
    receive exactly what corpus.count() returned — the memo changes
    job count, never the sized value (count of an immutable parquet
    table is deterministic)."""
    return _memo_value(
        spark,
        sf_dir,
        "emb_n",
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


def _emb_train_sample(spark, sf_dir) -> list:
    """The bounded deterministic ANN training sample
    (similarity.ivf_train_sample over the full embeddings corpus,
    default ≤2^18-row cap), session-memoized (r11): the six trained
    ANN queries (IVF / PQ / IVF-PQ ann+recall+knn variants) each ran
    the same corpus count + ordered-limit collect before training.
    The sample depends only on the corpus and the cap — the trainers
    receive row-for-row what their own collect would have returned,
    so every centroid/codebook trajectory (which the oracles replay)
    is unchanged. Cold-attribution mode drops this via
    clear_value_memos()."""
    return _memo_value(
        spark,
        sf_dir,
        "emb_train_sample",
        lambda: similarity.ivf_train_sample(
            load_table(spark, sf_dir, "embeddings")
        ),
    )


@register(
    "emb_dot_topk",
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
    f"WHERE vec_id IN {_QUERY_VECS}), "
    "scored AS (SELECT q.query_id, e.vec_id, "
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(floor(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)))::BIGINT AS qdot "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id), "
    "ranked AS (SELECT query_id, vec_id, qdot, row_number() OVER "
    "(PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS rank FROM scored) "
    "SELECT query_id, vec_id, qdot, rank FROM ranked WHERE rank <= 10 "
    "ORDER BY query_id, rank",
)
def emb_dot_topk(spark, sf_dir):
    """Similarity top-k, integer-exact variant (deterministic ranking):
    broadcast queries, one corpus pass, per-query rank pushdown."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return similarity.quantized_dot_topk(e, q, k=10).orderBy("query_id", "rank")


@register(
    "emb_norm_stats",
    "WITH n AS (SELECT label, list_sum(list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))::BIGINT AS qnorm2 FROM embeddings) "
    "SELECT label, count(*) AS n_vecs, min(qnorm2) AS min_qnorm2, "
    "max(qnorm2) AS max_qnorm2 FROM n GROUP BY label ORDER BY label",
)
def emb_norm_stats(spark, sf_dir):
    """Per-label embedding hygiene stats on the integer-quantized grid."""
    e = load_table(spark, sf_dir, "embeddings")
    qn = quantized_dot(F.col("embedding"), F.col("embedding"), 1000).alias("qnorm2")
    return (
        e.select("label", qn)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("qnorm2").alias("min_qnorm2"),
            F.max("qnorm2").alias("max_qnorm2"),
        )
        .orderBy("label")
    )


@register(
    "emb_cosine_topk",
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
    f"WHERE vec_id IN {_QUERY_VECS}), "
    "scored AS (SELECT q.query_id, e.vec_id, "
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(floor(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)))::BIGINT AS qd, "
    "list_sum(list_transform(e.embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))::BIGINT AS na, "
    "list_sum(list_transform(q.qv, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))::BIGINT AS nb "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id), "
    "keyed AS (SELECT query_id, vec_id, "
    "CAST(CASE WHEN na = 0 OR nb = 0 THEN -1000000000001 ELSE "
    "(CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
    "((CAST(qd AS HUGEINT) * qd * 1000000000000) // "
    "(CAST(na AS HUGEINT) * nb)) END AS BIGINT) AS cos2_pico FROM scored), "
    "ranked AS (SELECT query_id, vec_id, cos2_pico, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos2_pico DESC, vec_id) AS rank FROM keyed) "
    "SELECT query_id, vec_id, cos2_pico, rank FROM ranked WHERE rank <= 10 "
    "ORDER BY query_id, rank",
)
def emb_cosine_topk(spark, sf_dir):
    """Exact cosine top-k, hash-comparable: ranking key is the
    integer sign(d)·floor(10^12·d²/(na·nb)) on the floor(x·1000) grid
    (`operators/similarity.quantized_cosine_key`) — monotone in
    cosine, bit-identical across engines, so the former
    float-property-tested baseline now sits in the oracle gate. The
    float brute_force_topk stays as the library's ANN recall
    baseline (property-tested)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return similarity.quantized_cosine_topk(e, q, k=10).orderBy("query_id", "rank")


def _lsh_ann_ctes(tables: int = 8, query_pred: str | None = None) -> str:
    """The quantized_lsh_ann_topk replay as a WITH-chain body (no
    leading ``WITH``, no final SELECT): the ±1 md5 hyperplanes are
    inlined as literal lists (up to the adaptive_lsh_bits ladder's
    16-bit ceiling; only pidx < bits·tables participate),
    sign-bucketing runs on the same floor(x·1000) integer grid with
    bits auto-sized to the corpus by the CASE ladder, candidates come
    from exact (table, bucket) equality, and ranking uses the integer
    quantized-cosine key — so even the *approximation* (which
    candidates each query sees) is reproduced bit-for-bit at every
    corpus size. Ends with ``ranked(query_id, vec_id, cos2_pico,
    rank)``; ``query_pred`` selects the query vectors (default: the
    shared _QUERY_VECS sample). Shared by the ANN top-k oracle and
    the recall-gate oracle."""
    if query_pred is None:
        query_pred = f"vec_id IN {_QUERY_VECS}"
    vals = ", ".join(
        f"({p}, {list(row)})"
        for p, row in enumerate(similarity.hyperplane_signs(64, 16 * tables))
    )
    ladder = " ".join(f"WHEN n <= {32 << b} THEN {b}" for b in range(4, 16))
    return (
        "qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
        f"ab AS (SELECT CASE {ladder} ELSE 16 END AS bits "
        "FROM (SELECT count(*) AS n FROM embeddings)), "
        f"pl AS (SELECT * FROM (VALUES {vals}) AS p(pidx, pv)), "
        "bk AS (SELECT vec_id, pidx // bits AS tbl, CAST(sum(CASE WHEN "
        "list_sum(list_transform(range(1, 65), i -> pv[i] * q[i])) >= 0 "
        "THEN 1 << (pidx % bits) ELSE 0 END) AS BIGINT) AS bucket "
        f"FROM qv CROSS JOIN pl, ab WHERE pidx < bits * {tables} "
        "GROUP BY vec_id, pidx // bits), "
        "qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bk "
        f"WHERE {query_pred}), "
        "cand AS (SELECT DISTINCT qb.query_id, bk.vec_id FROM bk JOIN qb "
        "ON bk.tbl = qb.tbl AND bk.bucket = qb.bucket AND bk.vec_id != qb.query_id), "
        "sc AS (SELECT c.query_id, c.vec_id, "
        "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
        "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
        "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
        "FROM cand c JOIN qv a ON c.vec_id = a.vec_id JOIN qv b ON c.query_id = b.vec_id), "
        "keyed AS (SELECT query_id, vec_id, CAST(CASE WHEN na = 0 OR nb = 0 THEN -1000000000001 ELSE "
        "(CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
        "((CAST(qd AS HUGEINT) * qd * 1000000000000) // (CAST(na AS HUGEINT) * nb)) END AS BIGINT) "
        "AS cos2_pico FROM sc), "
        "ranked AS (SELECT query_id, vec_id, cos2_pico, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos2_pico DESC, vec_id) AS rank FROM keyed)"
    )


def _lsh_ann_oracle(tables: int = 8) -> str:
    return (
        "WITH " + _lsh_ann_ctes(tables) + " "
        "SELECT query_id, vec_id, cos2_pico, rank FROM ranked WHERE rank <= 10 "
        "ORDER BY query_id, rank"
    )


@register("emb_lsh_ann_topk", _lsh_ann_oracle())
def emb_lsh_ann_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN top-k (the 100 TB similarity path),
    oracle-exact end-to-end: integer-grid sign bucketing makes the
    candidate set deterministic and the quantized-cosine key makes
    the ranking integer, so the approximate result itself hash-matches
    the SQL oracle (see `similarity.quantized_lsh_ann_topk`). Bits
    auto-size to the corpus (adaptive_lsh_bits, replayed by the
    oracle's CASE ladder): the earlier FIXED bits=4 meant every query
    scored n/16 of the corpus per table — a linear scan in disguise;
    the ladder keeps per-query candidates corpus-size-independent.
    LSH recall vs the exact top-k stays property-tested."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return similarity.quantized_lsh_ann_topk(
        e, q, dim=64, k=10, n=_emb_n(spark, sf_dir)
    ).orderBy(
        "query_id", "rank"
    )


def _knn_join_oracle(k: int = 3, tables: int = 8) -> str:
    """All-SQL replay of similarity.quantized_knn_join: the SAME
    integer sign-bucketing as _lsh_ann_oracle, but (a) bits auto-size
    to the corpus through the adaptive_lsh_bits integer ladder
    (replayed as a CASE chain over count(*) — pure integer
    comparisons, no float log), and (b) candidates come from the full
    bucket self-join (every vector is a query), each source ranking
    its candidates — the whole approximate kNN graph is
    hash-compared. Planes are inlined up to the ladder's 16-bit
    ceiling; only pidx < bits·tables participate."""
    vals = ", ".join(
        f"({p}, {list(row)})"
        for p, row in enumerate(similarity.hyperplane_signs(64, 16 * tables))
    )
    ladder = " ".join(
        f"WHEN n <= {32 << b} THEN {b}" for b in range(4, 16)
    )
    return (
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
        f"ab AS (SELECT CASE {ladder} ELSE 16 END AS bits "
        "FROM (SELECT count(*) AS n FROM embeddings)), "
        f"pl AS (SELECT * FROM (VALUES {vals}) AS p(pidx, pv)), "
        "bk AS (SELECT vec_id, pidx // bits AS tbl, CAST(sum(CASE WHEN "
        "list_sum(list_transform(range(1, 65), i -> pv[i] * q[i])) >= 0 "
        "THEN 1 << (pidx % bits) ELSE 0 END) AS BIGINT) AS bucket "
        f"FROM qv CROSS JOIN pl, ab WHERE pidx < bits * {tables} "
        "GROUP BY vec_id, pidx // bits), "
        "cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst FROM bk a "
        "JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        "AND a.vec_id != b.vec_id), "
        "sc AS (SELECT c.src, c.dst, "
        "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
        "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
        "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
        "FROM cand c JOIN qv a ON c.dst = a.vec_id JOIN qv b ON c.src = b.vec_id), "
        "keyed AS (SELECT src, dst, CAST(CASE WHEN na = 0 OR nb = 0 THEN "
        "-1000000000001 ELSE (CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
        "((CAST(qd AS HUGEINT) * qd * 1000000000000) // (CAST(na AS HUGEINT) * nb)) "
        "END AS BIGINT) AS cos2_pico FROM sc), "
        "ranked AS (SELECT src, dst, cos2_pico, row_number() OVER "
        "(PARTITION BY src ORDER BY cos2_pico DESC, dst) AS rank FROM keyed) "
        f"SELECT src, dst, cos2_pico, rank FROM ranked WHERE rank <= {k} "
        "ORDER BY src, rank"
    )


@register("emb_knn_join", _knn_join_oracle())
def emb_knn_join(spark, sf_dir):
    """k-NN graph construction (similarity.quantized_knn_join): top-3
    neighbors for EVERY vector via the bucket-keyed LSH self-join —
    the stage SemDeDup / graph-based curation starts from, and the
    all-vectors upgrade of the broadcast-query ANN path. No broadcast:
    candidates shuffle on (table, bucket), each source ranks its own
    list two-phase. Integer bucketing + integer cosine ranking make
    the whole approximate graph (candidate sets included)
    hash-comparable; kNN recall stays property-tested. Bits auto-size
    to the corpus (adaptive_lsh_bits, replayed by the oracle's
    integer CASE ladder) — the fix for the 23.6× super-linear 10×
    probe the FIXED-bits first version measured (SCALING §13)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.quantized_knn_join(
        e, dim=64, k=3, n=_emb_n(spark, sf_dir)
    ).orderBy("src", "rank")


def _negative_sample_oracle(k: int = 5, tables: int = 8) -> str:
    """All-SQL replay of similarity.lsh_negative_sample: the same
    sign-bucketing as the kNN oracle — bits auto-sized to the corpus
    via the adaptive_lsh_bits CASE ladder — builds the exclusion set;
    the candidate space is corpus × probe queries minus exclusions;
    ranking is the salted md5 pair hash. With FIXED bits the exclusion
    set approaches the whole corpus as it grows (every vector
    eventually shares some bucket with each query), starving the
    negative pool below k; the ladder keeps exclusion mass
    corpus-size-independent."""
    vals = ", ".join(
        f"({p}, {list(row)})"
        for p, row in enumerate(similarity.hyperplane_signs(64, 16 * tables))
    )
    ladder = " ".join(f"WHEN n <= {32 << b} THEN {b}" for b in range(4, 16))
    return (
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
        f"ab AS (SELECT CASE {ladder} ELSE 16 END AS bits "
        "FROM (SELECT count(*) AS n FROM embeddings)), "
        f"pl AS (SELECT * FROM (VALUES {vals}) AS p(pidx, pv)), "
        "bk AS (SELECT vec_id, pidx // bits AS tbl, CAST(sum(CASE WHEN "
        "list_sum(list_transform(range(1, 65), i -> pv[i] * q[i])) >= 0 "
        "THEN 1 << (pidx % bits) ELSE 0 END) AS BIGINT) AS bucket "
        f"FROM qv CROSS JOIN pl, ab WHERE pidx < bits * {tables} "
        "GROUP BY vec_id, pidx // bits), "
        f"qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bk "
        f"WHERE vec_id IN {_QUERY_VECS}), "
        "ex AS (SELECT DISTINCT qb.query_id, bk.vec_id FROM bk JOIN qb "
        "ON bk.tbl = qb.tbl AND bk.bucket = qb.bucket), "
        "neg AS (SELECT q.query_id, v.vec_id, "
        "CAST('0x' || substr(md5('neg' || CAST(q.query_id AS VARCHAR) || ':' || "
        "CAST(v.vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS h "
        "FROM (SELECT DISTINCT query_id FROM qb) q CROSS JOIN "
        "(SELECT vec_id FROM embeddings) v "
        "WHERE v.vec_id != q.query_id AND NOT EXISTS "
        "(SELECT 1 FROM ex WHERE ex.query_id = q.query_id "
        "AND ex.vec_id = v.vec_id)), "
        "ranked AS (SELECT query_id, vec_id, row_number() OVER "
        "(PARTITION BY query_id ORDER BY h, vec_id) AS rank FROM neg) "
        f"SELECT query_id, vec_id, rank FROM ranked WHERE rank <= {k} "
        "ORDER BY query_id, rank"
    )


@register("emb_negative_sampling", _negative_sample_oracle())
def emb_negative_sampling(spark, sf_dir):
    """Contrastive-training negative sampling
    (similarity.lsh_negative_sample): per probe query, 5 negatives
    chosen uniformly by deterministic pair hash among vectors sharing
    NO LSH bucket with the query — the false-negative guard (a
    bucket-sharing vector is a near-dup candidate, exactly what a
    contrastive negative must not be). Hash-deterministic end to end,
    so the sample replays in the oracle and is reproducible across
    runs, partitionings, and engines — the property a training run
    needs before it depends on the pairs. Exclusions come from the
    bucket join; the candidate space is ids × 3 broadcast queries;
    ranking is two-phase."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return similarity.lsh_negative_sample(
        e, q, dim=64, k=5, n=_emb_n(spark, sf_dir)
    ).orderBy(
        "query_id", "rank"
    )


def _ivf_key_sql(qref: str, cref: str) -> str:
    """The integer IVF assignment key (similarity._quantized_cell_keys)
    as a SQL expression over two BIGINT-list refs: sign(d)·(d²·1000 div
    nc), sentinel -(2^60) for a zero-norm centroid. All BIGINT (d ≤
    64·10⁶ ⇒ d²·1000 < 2^63)."""
    d = f"list_sum(list_transform(range(1, 65), t -> {qref}[t] * {cref}[t]))"
    nc = f"list_sum(list_transform({cref}, x -> x * x))"
    return (
        f"CASE WHEN {nc} = 0 THEN CAST(-1152921504606846976 AS BIGINT) ELSE "
        f"CAST((CASE WHEN {d} < 0 THEN -1 ELSE 1 END) * "
        f"((CAST({d} AS BIGINT) * {d} * 1000) // {nc}) AS BIGINT) END"
    )


def _ivf_knn_oracle(iters: int = 2, k: int = 3, target: int = 256) -> str:
    """All-SQL replay of similarity.quantized_ivf_knn_join — the
    TRAINED-partition kNN graph. The front half is the integer-Lloyd
    chain of _ivf_cand_parts with one upgrade: the cell count is
    CORPUS-ADAPTIVE (GREATEST(2, LEAST(4096, ceil(n/target))) over
    count(*), the adaptive_ivf_cells rule), flowing into the init
    LIMIT and the empty-cell carry as scalar subqueries — no
    structural unrolling over cells is needed because the Lloyd chain
    keeps cells as ROWS. The tail is the within-cell self-join and
    integer cosine ranking."""
    ncell = "(SELECT nc FROM ncc)"
    parts = [
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings)",
        f"ncc AS (SELECT GREATEST(2, LEAST(4096, (count(*) + {target - 1}) "
        f"// {target})) AS nc FROM embeddings)",
        "md AS (SELECT GREATEST(1, (count(*) + 262143) // 262144) AS sm FROM embeddings)",
        "samp AS (SELECT vec_id, q FROM qv, md WHERE vec_id % sm = 0 "
        "ORDER BY vec_id LIMIT 262144)",
        "it0 AS (SELECT list(q ORDER BY vec_id) AS cents FROM "
        f"(SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT {ncell}))",
    ]
    for i in range(1, iters + 1):
        p = f"it{i - 1}"
        parts += [
            f"a{i} AS (SELECT vec_id, q, list_position(ks, list_max(ks)) - 1 AS cell "
            f"FROM (SELECT s.vec_id, s.q, list_transform(p.cents, "
            f"c -> {_ivf_key_sql('s.q', 'c')}) AS ks FROM samp s, {p} p) z)",
            f"g{i} AS (SELECT cell, t.t AS t, CAST(sum(q[t.t]) AS BIGINT) AS sv "
            f"FROM a{i}, (SELECT unnest(range(1, 65)) AS t) t GROUP BY 1, 2)",
            f"gl{i} AS (SELECT cell, list(sv ORDER BY t) AS s FROM g{i} GROUP BY cell)",
            f"rs{i} AS (SELECT cell, CASE WHEN list_max(list_transform(s, x -> abs(x))) = 0 "
            f"THEN s ELSE list_transform(s, x -> CAST((CASE WHEN x < 0 THEN -1 ELSE 1 END) * "
            f"((abs(x) * 1000) // list_max(list_transform(s, y -> abs(y)))) AS BIGINT)) END "
            f"AS cv FROM gl{i})",
            f"it{i} AS (SELECT list(coalesce(r.cv, p.cents[c.cell + 1]) ORDER BY c.cell) "
            f"AS cents FROM (SELECT unnest(range({ncell})) AS cell) c "
            f"CROSS JOIN {p} p LEFT JOIN rs{i} r ON r.cell = c.cell)",
        ]
    fin = f"it{iters}"
    parts += [
        "ac AS (SELECT vec_id, list_position(ks, list_max(ks)) - 1 AS cell "
        "FROM (SELECT v.vec_id, list_transform(p.cents, "
        f"c -> {_ivf_key_sql('v.q', 'c')}) AS ks FROM qv v, {fin} p) z)",
        "cand AS (SELECT a.vec_id AS src, b.vec_id AS dst FROM ac a "
        "JOIN ac b ON a.cell = b.cell AND a.vec_id != b.vec_id)",
        "sc AS (SELECT c.src, c.dst, "
        "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
        "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
        "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
        "FROM cand c JOIN qv a ON c.dst = a.vec_id JOIN qv b ON c.src = b.vec_id)",
        "keyed AS (SELECT src, dst, CAST(CASE WHEN na = 0 OR nb = 0 THEN "
        "-1000000000001 ELSE (CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
        "((CAST(qd AS HUGEINT) * qd * 1000000000000) // (CAST(na AS HUGEINT) * nb)) "
        "END AS BIGINT) AS cos2_pico FROM sc)",
        "ranked AS (SELECT src, dst, cos2_pico, row_number() OVER "
        "(PARTITION BY src ORDER BY cos2_pico DESC, dst) AS rank FROM keyed)",
    ]
    return ", ".join(parts) + (
        f" SELECT src, dst, cos2_pico, rank FROM ranked WHERE rank <= {k} "
        "ORDER BY src, rank"
    )


@register("emb_knn_join_ivf", _ivf_knn_oracle())
def emb_knn_join_ivf(spark, sf_dir):
    """k-NN graph via TRAINED partitions
    (similarity.quantized_ivf_knn_join) — the declared crossover once
    a corpus outgrows the LSH ladder's plane-inlining budget (SCALING
    §15 measured that ceiling in the wild): spherical-k-means cells
    auto-size to the corpus (adaptive_ivf_cells, replayed by the
    oracle as GREATEST/LEAST over count(*) — no structural SQL change
    with n because the Lloyd chain keeps cells as rows), the
    self-join runs within cells only (Σ|cell|² ≈ n·256 candidates,
    linear at any scale), and integer Lloyd + integer cosine make the
    whole approximate graph — training trajectory included —
    hash-match the oracle. Recall vs the LSH twin stays
    property-tested; cell-boundary misses are the documented dial."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.quantized_ivf_knn_join(
        e, dim=64, k=3, n=_emb_n(spark, sf_dir),
        sample_rows=_emb_train_sample(spark, sf_dir),
    ).orderBy("src", "rank")


def _ivf_cand_parts(
    n_cells: int = 16,
    iters: int = 3,
    n_probe: int = 4,
    query_pred: str | None = None,
) -> list[str]:
    """The IVF oracle's shared front half — quantized corpus, bounded
    deterministic sample, unrolled integer Lloyd training, corpus cell
    assignment, query probing — ending at the ``cand`` (query_id,
    vec_id) candidate CTE. Reused verbatim by _ivf_ann_oracle (exact
    re-ranking tail), _ivfpq_ann_oracle (ADC tail), and the IVF recall
    gate (``query_pred`` selects the query vectors; the predicate sees
    the corpus as alias ``v``)."""
    parts = [
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings)",
        "md AS (SELECT GREATEST(1, (count(*) + 262143) // 262144) AS sm FROM embeddings)",
        "samp AS (SELECT vec_id, q FROM qv, md WHERE vec_id % sm = 0 "
        "ORDER BY vec_id LIMIT 262144)",
        "it0 AS (SELECT list(q ORDER BY vec_id) AS cents FROM "
        f"(SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT {n_cells}))",
    ]
    for i in range(1, iters + 1):
        p = f"it{i - 1}"
        parts += [
            f"a{i} AS (SELECT vec_id, q, list_position(ks, list_max(ks)) - 1 AS cell "
            f"FROM (SELECT s.vec_id, s.q, list_transform(p.cents, "
            f"c -> {_ivf_key_sql('s.q', 'c')}) AS ks FROM samp s, {p} p) z)",
            f"g{i} AS (SELECT cell, t.t AS t, CAST(sum(q[t.t]) AS BIGINT) AS sv "
            f"FROM a{i}, (SELECT unnest(range(1, 65)) AS t) t GROUP BY 1, 2)",
            f"gl{i} AS (SELECT cell, list(sv ORDER BY t) AS s FROM g{i} GROUP BY cell)",
            f"rs{i} AS (SELECT cell, CASE WHEN list_max(list_transform(s, x -> abs(x))) = 0 "
            f"THEN s ELSE list_transform(s, x -> CAST((CASE WHEN x < 0 THEN -1 ELSE 1 END) * "
            f"((abs(x) * 1000) // list_max(list_transform(s, y -> abs(y)))) AS BIGINT)) END "
            f"AS cv FROM gl{i})",
            f"it{i} AS (SELECT list(coalesce(r.cv, p.cents[c.cell + 1]) ORDER BY c.cell) "
            f"AS cents FROM (SELECT unnest(range({n_cells})) AS cell) c "
            f"CROSS JOIN {p} p LEFT JOIN rs{i} r ON r.cell = c.cell)",
        ]
    fin = f"it{iters}"
    parts += [
        "ac AS (SELECT vec_id, list_position(ks, list_max(ks)) - 1 AS cell "
        "FROM (SELECT v.vec_id, list_transform(p.cents, "
        f"c -> {_ivf_key_sql('v.q', 'c')}) AS ks FROM qv v, {fin} p) z)",
        "qk AS (SELECT v.vec_id AS query_id, c.cell, "
        f"{_ivf_key_sql('v.q', 'p.cents[c.cell + 1]')} AS ck "
        f"FROM qv v, {fin} p, (SELECT unnest(range({n_cells})) AS cell) c "
        f"WHERE {query_pred or f'v.vec_id IN {_QUERY_VECS}'})",
        "qp AS (SELECT query_id, cell FROM (SELECT query_id, cell, row_number() OVER "
        "(PARTITION BY query_id ORDER BY ck DESC, cell) AS pr FROM qk) z "
        f"WHERE pr <= {n_probe})",
        "cand AS (SELECT qp.query_id, ac.vec_id FROM ac JOIN qp "
        "ON ac.cell = qp.cell AND ac.vec_id != qp.query_id)",
    ]
    return parts


def _ivf_ann_oracle(n_cells: int = 16, iters: int = 3, n_probe: int = 4) -> str:
    """All-SQL replay of similarity.quantized_ivf_ann_topk — including
    the TRAINING: the bounded deterministic sample (id % sm = 0,
    ordered LIMIT 2^18, sm = ceil(n/2^18)), first-16-by-id init, and
    each unrolled Lloyd step (argmax assignment via list_position ==
    numpy first-max tie-break; exact integer member sums rescaled to
    the ±1000 grid; empty cells carry the previous centroid). Corpus
    assignment, query probing (key desc, cell asc) and the final
    quantized-cosine ranking then replay exactly as in the LSH oracle —
    the approximate answer, training trajectory and all, is
    hash-compared."""
    parts = _ivf_cand_parts(n_cells, iters, n_probe)
    parts += [
        "sc AS (SELECT c.query_id, c.vec_id, "
        "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
        "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
        "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
        "FROM cand c JOIN qv a ON c.vec_id = a.vec_id JOIN qv b ON c.query_id = b.vec_id)",
        "keyed AS (SELECT query_id, vec_id, CAST(CASE WHEN na = 0 OR nb = 0 "
        "THEN -1000000000001 ELSE (CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
        "((CAST(qd AS HUGEINT) * qd * 1000000000000) // (CAST(na AS HUGEINT) * nb)) "
        "END AS BIGINT) AS cos2_pico FROM sc)",
        "ranked AS (SELECT query_id, vec_id, cos2_pico, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos2_pico DESC, vec_id) AS rank FROM keyed)",
    ]
    return (
        ", ".join(parts)
        + " SELECT query_id, vec_id, cos2_pico, rank FROM ranked WHERE rank <= 10 "
        "ORDER BY query_id, rank"
    )


@register("emb_ivf_ann_topk", _ivf_ann_oracle())
def emb_ivf_ann_topk(spark, sf_dir):
    """IVF-cell ANN top-k (trained-partition scale path; ~n_probe/
    n_cells of the corpus scored per query) — oracle-exact end-to-end
    including the k-means TRAINING: integer Lloyd steps on the
    floor(x·1000) grid over the bounded deterministic sample replay in
    unrolled SQL CTEs (the emb_pca_power recipe applied to the last
    rows-only query), so the approximate result hash-matches. IVF
    recall vs exact top-k stays property-tested."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return similarity.quantized_ivf_ann_topk(
        e, q, dim=64, k=10, n_cells=16, iters=3, n_probe=4,
        sample_rows=_emb_train_sample(spark, sf_dir),
    ).orderBy("query_id", "rank")


def _pq_parts(
    m: int = 16,
    n_codes: int = 256,
    iters: int = 3,
    sub: int = 4,
    sample_src: str = "fx",
    corpus_src: str = "fq",
    lut_src: str | None = None,
    include_flats: bool = True,
    query_pred: str | None = None,
) -> list[str]:
    """The PQ oracle's codebook/encode/LUT CTEs — everything after the
    shared qv/md/samp prefix, ending at ``enc`` (corpus codes) and
    ``lut`` (per-query codeword dots). RELATIONAL, not list-lambda:
    vectors and codebooks are flattened to (vec_id, sp, t, value) /
    (sp, cell, t, value) rows with the subspace id ``sp`` carried as a
    column, so ALL m independent Lloyd chains run in ONE set of
    hash-join + group-by CTEs per iteration (a list_transform
    formulation evaluated ~120M interpreted lambdas at m=16·256 codes
    and never finished; this form runs in seconds). Assignment key
    2·(x·c) − |c|² via row_number (key DESC, cell ASC == numpy
    first-max); member means sign-decomposed (DuckDB // truncates
    toward zero, numpy floors — the shared form agrees); empty cells
    carry the previous codeword through the LEFT JOIN coalesce.
    Iteration CTEs are pa*/pu* so the IVF chain's names stay free for
    _ivfpq_ann_oracle."""
    dim = m * sub
    key = "2 * sum(f.xv * c.cv) - sum(c.cv * c.cv)"
    parts = []
    if include_flats:
        parts += [
            f"tt AS (SELECT unnest(range(1, {dim + 1})) AS t)",
            f"fx AS MATERIALIZED (SELECT vec_id, CAST((t - 1) // {sub} AS BIGINT) AS sp, t, "
            "q[t] AS xv FROM samp, tt)",
            f"fq AS MATERIALIZED (SELECT vec_id, CAST((t - 1) // {sub} AS BIGINT) AS sp, t, "
            "q[t] AS xv FROM qv, tt)",
        ]
    parts += [
        "ini AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell "
        "FROM samp)",
        "cb0 AS MATERIALIZED (SELECT f.sp, i.cell, f.t, f.xv AS cv FROM ini i "
        f"JOIN {sample_src} f USING (vec_id) WHERE i.cell < {n_codes})",
    ]
    for i in range(1, iters + 1):
        p = f"cb{i - 1}"
        parts += [
            f"pa{i} AS (SELECT vec_id, sp, cell FROM (SELECT f.vec_id, f.sp, c.cell, "
            f"row_number() OVER (PARTITION BY f.vec_id, f.sp "
            f"ORDER BY {key} DESC, c.cell) AS rn "
            f"FROM {sample_src} f JOIN {p} c ON c.sp = f.sp AND c.t = f.t "
            "GROUP BY f.vec_id, f.sp, c.cell) z WHERE rn = 1)",
            f"pu{i} AS (SELECT a.sp, a.cell, f.t, CASE WHEN sum(f.xv) < 0 THEN "
            "-((-sum(f.xv)) // count(*)) ELSE sum(f.xv) // count(*) END AS cv "
            f"FROM pa{i} a JOIN {sample_src} f ON f.vec_id = a.vec_id "
            "AND f.sp = a.sp GROUP BY 1, 2, 3)",
            f"cb{i} AS MATERIALIZED (SELECT p.sp, p.cell, p.t, coalesce(u.cv, p.cv) AS cv "
            f"FROM {p} p LEFT JOIN pu{i} u ON u.sp = p.sp AND u.cell = p.cell "
            "AND u.t = p.t)",
        ]
    fin = f"cb{iters}"
    parts += [
        "enc AS MATERIALIZED (SELECT vec_id, sp, cell AS code FROM (SELECT f.vec_id, f.sp, c.cell, "
        f"row_number() OVER (PARTITION BY f.vec_id, f.sp ORDER BY {key} DESC, c.cell) "
        f"AS rn FROM {corpus_src} f JOIN {fin} c ON c.sp = f.sp AND c.t = f.t "
        "GROUP BY f.vec_id, f.sp, c.cell) z WHERE rn = 1)",
        "lut AS MATERIALIZED (SELECT f.vec_id AS query_id, f.sp, c.cell AS code, "
        f"CAST(sum(f.xv * c.cv) AS BIGINT) AS pdot FROM {lut_src or corpus_src} f "
        f"JOIN {fin} c ON c.sp = f.sp AND c.t = f.t "
        f"WHERE {query_pred or f'f.vec_id IN {_QUERY_VECS}'} GROUP BY 1, 2, 3)",
    ]
    return parts


_PQ_PREFIX = [
    "WITH qv AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings)",
    "md AS (SELECT GREATEST(1, (count(*) + 262143) // 262144) AS sm FROM embeddings)",
    "samp AS (SELECT vec_id, q FROM qv, md WHERE vec_id % sm = 0 "
    "ORDER BY vec_id LIMIT 262144)",
]


def _pq_ann_oracle(m: int = 16, n_codes: int = 256, iters: int = 3, sub: int = 4) -> str:
    """All-SQL replay of pq.quantized_pq_ann_topk — training, corpus
    encoding, the per-query ADC lookup table (see :func:`_pq_parts`),
    then the brute ADC scan: every corpus vector's (sp, code) pairs
    join the per-query codeword dot table and sum — the approximate
    answer, training trajectory and all, is hash-compared."""
    parts = _PQ_PREFIX + _pq_parts(m, n_codes, iters, sub)
    parts += [
        "sc AS (SELECT l.query_id, e.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adc_dot "
        "FROM enc e JOIN lut l ON l.sp = e.sp AND l.code = e.code "
        "WHERE e.vec_id != l.query_id GROUP BY 1, 2)",
        "ranked AS (SELECT query_id, vec_id, adc_dot, row_number() OVER "
        "(PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rank FROM sc)",
    ]
    return (
        ", ".join(parts)
        + " SELECT query_id, vec_id, adc_dot, rank FROM ranked WHERE rank <= 10 "
        "ORDER BY query_id, rank"
    )


def _ivfpq_ann_oracle(
    n_cells: int = 16,
    ivf_iters: int = 3,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 256,
    pq_iters: int = 3,
    sub: int = 4,
) -> str:
    """All-SQL replay of pq.quantized_ivfpq_ann_topk — the FAISS
    IndexIVFPQ shape: the IVF chain (_ivf_cand_parts — spherical-k-means
    cells, corpus assignment, query probing) restricts candidates to
    the probed cells, then the PQ chain (_pq_parts — raw-vector
    codebooks, by_residual=false) scores ONLY those candidates by ADC.
    Both training trajectories, the candidate set, and the ranking are
    hash-compared. The two chains share the qv/md/samp prefix and use
    disjoint CTE names by construction."""
    parts = _ivf_cand_parts(n_cells, ivf_iters, n_probe)
    parts += _pq_parts(m, n_codes, pq_iters, sub)
    parts += [
        "psc AS (SELECT c.query_id, c.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adc_dot "
        "FROM cand c JOIN enc e ON e.vec_id = c.vec_id "
        "JOIN lut l ON l.query_id = c.query_id AND l.sp = e.sp AND l.code = e.code "
        "GROUP BY 1, 2)",
        "ranked AS (SELECT query_id, vec_id, adc_dot, row_number() OVER "
        "(PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rank FROM psc)",
    ]
    return (
        ", ".join(parts)
        + " SELECT query_id, vec_id, adc_dot, rank FROM ranked WHERE rank <= 10 "
        "ORDER BY query_id, rank"
    )


@register("emb_pq_ann_topk", _pq_ann_oracle())
def emb_pq_ann_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/pq): each corpus
    vector compressed to the standard 16×8-bit code (16 subspaces of 4
    dims, 256 codewords each — 16 bytes/vector), queries scored by
    summed codeword-dot lookups — the memory-bandwidth ANN tier that
    composes with IVF at billion scale (scan reads 16 bytes per
    vector, never the embedding column). Oracle-exact end to end
    INCLUDING per-subspace integer Lloyd training, corpus encoding,
    and the ADC table (the emb_ivf_ann_topk recipe with the L2 key and
    truncating integer means). PQ recall vs the exact top-k (~0.8@10
    on the fixtures) is property-tested; this gate pins the machinery
    bit-for-bit."""
    from proglog_spark.operators import pq

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return (
        pq.quantized_pq_ann_topk(
            e, q, dim=64, k=10, m=16, n_codes=256, iters=3,
            sample_rows=_emb_train_sample(spark, sf_dir),
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "vec_id",
            "adc_dot",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _ivfpq_residual_oracle(
    n_cells: int = 16,
    ivf_iters: int = 3,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 256,
    pq_iters: int = 3,
    sub: int = 4,
) -> str:
    """All-SQL replay of quantized_ivfpq_ann_topk(by_residual=True) —
    the FAISS IndexIVFPQ default: PQ codebooks are trained on, and
    encode, the RESIDUAL x − centroid(cell(x)) (components stay
    exactly representable on the integer grid, |r| ≤ 2·scale), and ADC
    adds the per-(query, cell) centroid dot back:
    score = q·c_cell + Σ_j q_j·codeword_j. The IVF chain, the residual
    flats (rx over the sample, rq over the corpus), the residual PQ
    training, and the two ADC terms all replay relationally."""
    dim = m * sub
    parts = _ivf_cand_parts(n_cells, ivf_iters, n_probe)
    fin_ivf = f"it{ivf_iters}"
    parts += [
        # the corpus cell assignment is referenced three times (rx, rq,
        # psc); without MATERIALIZED DuckDB inlines the expensive
        # list-lambda assignment per reference (measured 208 s -> then
        # seconds with the hint)
        "acm AS MATERIALIZED (SELECT * FROM ac)",
        # flatten the final IVF centroids to (cell, t, cv) rows
        f"cf1 AS (SELECT unnest(range(len(cents))) AS cell, "
        f"unnest(cents) AS cw FROM {fin_ivf})",
        "cf AS (SELECT cell, unnest(range(1, len(cw) + 1)) AS t, "
        "unnest(cw) AS cv FROM cf1)",
        f"tt AS (SELECT unnest(range(1, {dim + 1})) AS t)",
        f"fx AS MATERIALIZED (SELECT vec_id, CAST((t - 1) // {sub} AS BIGINT) AS sp, t, "
        "q[t] AS xv FROM samp, tt)",
        f"fq AS MATERIALIZED (SELECT vec_id, CAST((t - 1) // {sub} AS BIGINT) AS sp, t, "
        "q[t] AS xv FROM qv, tt)",
        # residual flats: subtract each row's own cell centroid (ac is
        # the IVF chain's whole-corpus assignment; the sample is a
        # subset of the corpus, so it joins the same table)
        "rx AS MATERIALIZED (SELECT f.vec_id, f.sp, f.t, f.xv - c.cv AS xv FROM fx f "
        "JOIN acm a ON a.vec_id = f.vec_id JOIN cf c ON c.cell = a.cell "
        "AND c.t = f.t)",
        "rq AS MATERIALIZED (SELECT f.vec_id, f.sp, f.t, f.xv - c.cv AS xv FROM fq f "
        "JOIN acm a ON a.vec_id = f.vec_id JOIN cf c ON c.cell = a.cell "
        "AND c.t = f.t)",
    ]
    # enc quantizes corpus RESIDUALS, but the ADC lookup table dots
    # the RAW query vector against the residual codewords (score =
    # q.c_cell + q.recon(r)) — lut reads fq, not rq
    parts += _pq_parts(
        m, n_codes, pq_iters, sub,
        sample_src="rx", corpus_src="rq", lut_src="fq", include_flats=False,
    )
    parts += [
        # per-(query, cell) centroid dot — the coarse ADC term
        "ct AS (SELECT f.vec_id AS query_id, c.cell, "
        "CAST(sum(f.xv * c.cv) AS BIGINT) AS cdot FROM fq f "
        f"JOIN cf c ON c.t = f.t WHERE f.vec_id IN {_QUERY_VECS} "
        "GROUP BY 1, 2)",
        "psc AS (SELECT c.query_id, c.vec_id, "
        "CAST(any_value(ct.cdot) + sum(l.pdot) AS BIGINT) AS adc_dot "
        "FROM cand c JOIN acm a ON a.vec_id = c.vec_id "
        "JOIN ct ON ct.query_id = c.query_id AND ct.cell = a.cell "
        "JOIN enc e ON e.vec_id = c.vec_id "
        "JOIN lut l ON l.query_id = c.query_id AND l.sp = e.sp "
        "AND l.code = e.code GROUP BY 1, 2)",
        "ranked AS (SELECT query_id, vec_id, adc_dot, row_number() OVER "
        "(PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rank FROM psc)",
    ]
    return (
        ", ".join(parts)
        + " SELECT query_id, vec_id, adc_dot, rank FROM ranked WHERE rank <= 10 "
        "ORDER BY query_id, rank"
    )


@register("emb_ivfpq_residual_topk", _ivfpq_residual_oracle())
def emb_ivfpq_residual_topk(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (by_residual=True — the FAISS
    IndexIVFPQ default): PQ codebooks quantize x − centroid(cell(x)),
    which concentrates the code budget on within-cell variation, and
    ADC adds the per-(query, cell) centroid dot back. Strictly better
    recall than raw-vector IVF-PQ at the same 16-byte code
    (property-tested); residual components stay exactly representable
    on the integer grid, so BOTH trainings, residual encoding, and the
    two-term ADC all hash-match the relational oracle."""
    from proglog_spark.operators import pq

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return (
        pq.quantized_ivfpq_ann_topk(
            e, q, dim=64, k=10, by_residual=True,
            sample_rows=_emb_train_sample(spark, sf_dir),
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "vec_id",
            "adc_dot",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


@register("emb_ivfpq_ann_topk", _ivfpq_ann_oracle())
def emb_ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ ANN (operators/pq.quantized_ivfpq_ann_topk) — the FAISS
    IndexIVFPQ composition and the repo's billion-scale similarity
    path: spherical-k-means IVF cells route each query to n_probe/16
    of the corpus, and PQ-ADC scores only those candidates from their
    16-byte codes — the scoring scan never touches the embedding
    column. BOTH trainings (integer Lloyd for cells, per-subspace
    integer Lloyd for codebooks), the candidate sets, and the ADC
    ranking replay in the SQL oracle (_ivf_cand_parts + _pq_parts
    share the quantized-corpus prefix and compose), so the approximate
    answer hash-matches end to end. Recall vs exact stays
    property-tested."""
    from proglog_spark.operators import pq

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return (
        pq.quantized_ivfpq_ann_topk(
            e, q, dim=64, k=10,
            sample_rows=_emb_train_sample(spark, sf_dir),
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "vec_id",
            "adc_dot",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _cosine_neardup_oracle(t_milli: int = 900, tables: int = 8) -> str:
    """All-SQL replay of similarity.embedding_cosine_neardup: the same
    integer sign-bucketing as _knn_join_oracle — bits auto-sized to
    the corpus through the adaptive_lsh_bits integer ladder (a CASE
    chain over count(*)) — feeding the full bucket self-join
    (id_a < id_b), then the exact integer threshold test
    10^6·d² ≥ t_milli²·na·nb with d > 0. Planes are inlined up to the
    ladder's 16-bit ceiling; only pidx < bits·tables participate, so
    the candidate set (and with it the emitted pair set) matches the
    Spark bucketing bit for bit at every corpus size."""
    vals = ", ".join(
        f"({p}, {list(row)})"
        for p, row in enumerate(similarity.hyperplane_signs(64, 16 * tables))
    )
    ladder = " ".join(f"WHEN n <= {32 << b} THEN {b}" for b in range(4, 16))
    return (
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
        f"ab AS (SELECT CASE {ladder} ELSE 16 END AS bits "
        "FROM (SELECT count(*) AS n FROM embeddings)), "
        f"pl AS (SELECT * FROM (VALUES {vals}) AS p(pidx, pv)), "
        "bk AS (SELECT vec_id, pidx // bits AS tbl, CAST(sum(CASE WHEN "
        "list_sum(list_transform(range(1, 65), i -> pv[i] * q[i])) >= 0 "
        "THEN 1 << (pidx % bits) ELSE 0 END) AS BIGINT) AS bucket "
        f"FROM qv CROSS JOIN pl, ab WHERE pidx < bits * {tables} "
        "GROUP BY vec_id, pidx // bits), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM bk a "
        "JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id), "
        "sc AS (SELECT c.id_a, c.id_b, "
        "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
        "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
        "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
        "FROM cand c JOIN qv a ON c.id_a = a.vec_id JOIN qv b ON c.id_b = b.vec_id) "
        "SELECT id_a, id_b, CAST((CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
        "((CAST(qd AS HUGEINT) * qd * 1000000000000) // "
        "(CAST(na AS HUGEINT) * nb)) AS BIGINT) AS cos2_pico FROM sc "
        f"WHERE qd > 0 AND CAST(qd AS HUGEINT) * qd * 1000000 >= "
        f"CAST({t_milli * t_milli} AS HUGEINT) * na * nb ORDER BY id_a, id_b"
    )


@register("emb_cosine_neardup", _cosine_neardup_oracle(t_milli=450))
def emb_cosine_neardup(spark, sf_dir):
    """Near-duplicate embedding pairs (quantized cosine >= threshold)
    via multi-table hyperplane-LSH self-join — the embedding analog of
    docs MinHash. Bits auto-size to the corpus (adaptive_lsh_bits,
    replayed by the oracle's integer CASE ladder — the
    quantized_knn_join recipe): the earlier FIXED 12-bit version was
    the last corpus-independent bucket count in the repo, the exact
    n²/2^bits quadratic class the kNN 10× probe measured at 23.6×.
    Bucketing now runs on the floor(x·1000) integer grid, so the
    ORACLE REPLAYS THE BUCKETS (not all-pairs): candidates and the
    integer verification (10^6·d² >= t²·na·nb) both hash-match at
    every corpus size; LSH recall is property-tested separately
    (planted-clone test) instead of riding the oracle. Threshold 0.45
    because the synthetic fixtures top out at cosine ~0.6 (the old
    0.9 gate compared empty sets — trivially green); production
    near-dup runs pass 0.9+."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.embedding_cosine_neardup(
            e, dim=64, threshold=0.45, n=_emb_n(spark, sf_dir)
        )
        .select("id_a", "id_b", "cos2_pico")
        .orderBy("id_a", "id_b")
    )


def _semantic_dedup_oracle() -> str:
    """SQL replay of similarity.semantic_dedup at bits=8, θ=0.35:
    exact-duplicate collapse (min id per distinct vector), 8-plane
    quantized sign cells over the representatives, within-cell
    quantized-cosine edges, recursive-CTE connected components, keep
    each component's minimum id."""
    vals = ", ".join(
        f"({p}, {list(row)})" for p, row in enumerate(similarity.hyperplane_signs(64, 8))
    )
    return (
        "WITH RECURSIVE "
        "qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
        "reps AS (SELECT embedding, min(vec_id) AS rid FROM embeddings GROUP BY embedding), "
        "rq AS (SELECT r.rid, qv.q FROM reps r JOIN qv ON qv.vec_id = r.rid), "
        f"pl AS (SELECT * FROM (VALUES {vals}) AS p(pidx, pv)), "
        "bk AS (SELECT rid, CAST(sum(CASE WHEN "
        "list_sum(list_transform(range(1, 65), i -> pv[i] * q[i])) >= 0 "
        "THEN 1 << pidx ELSE 0 END) AS BIGINT) AS cell FROM rq CROSS JOIN pl "
        "GROUP BY rid), "
        "nn AS (SELECT rid, q, list_sum(list_transform(q, x -> x * x))::BIGINT AS n2 "
        "FROM rq), "
        "pairs AS (SELECT a.rid AS id_a, b.rid AS id_b, "
        "list_sum(list_transform(range(1, 65), i -> qa.q[i] * qb.q[i]))::BIGINT AS qd, "
        "qa.n2 AS na, qb.n2 AS nb "
        "FROM bk a JOIN bk b ON a.cell = b.cell AND a.rid < b.rid "
        "JOIN nn qa ON qa.rid = a.rid JOIN nn qb ON qb.rid = b.rid), "
        "good AS (SELECT id_a, id_b FROM pairs WHERE qd > 0 AND "
        "CAST(qd AS HUGEINT) * qd * 1000000 >= CAST(122500 AS HUGEINT) * na * nb), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM good "
        "UNION SELECT id_b, id_a FROM good), "
        "reach(id, r) AS (SELECT src, src FROM edges "
        "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id), "
        "comp AS (SELECT id, min(r) AS root FROM reach GROUP BY id), "
        "m AS (SELECT e.vec_id, r.rid, bk.cell FROM embeddings e "
        "JOIN reps r ON e.embedding = r.embedding JOIN bk ON bk.rid = r.rid) "
        "SELECT m.vec_id, m.cell, "
        "(m.vec_id = m.rid AND (c.root IS NULL OR c.root = m.rid)) AS kept "
        "FROM m LEFT JOIN comp c ON c.id = m.rid ORDER BY vec_id"
    )


@register("emb_semantic_dedup", _semantic_dedup_oracle())
def emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup over the embedding corpus:
    exact duplicates collapse to their min id first, deterministic
    256-cell quantized-LSH clustering bounds the quadratic over the
    DISTINCT vectors, and within-cell similarity edges (quantized
    cosine ≥ 0.35) resolve to connected components that each keep one
    representative (the minimum id). Integer-exact end to end, so the
    kept/dropped partition hash-matches the recursive-CTE SQL oracle
    (`similarity.semantic_dedup`; swap cells for IVF k-means in
    production at the cost of the oracle)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(e, dim=64, threshold_milli=350, bits=8).orderBy(
        "vec_id"
    )


# ---------------------------------------------------------------------------
# TPC-H-ish join/agg workloads (bench headliners; integer-cents outputs)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_pricing",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_scaled, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def tpch_q1_pricing(spark, sf_dir):
    """Q1-style pricing summary: scan + partial-agg shuffle; money in
    integer cents (floor(x*100)) for cross-engine exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_price_cents"),
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "sum_disc_price_scaled"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_shipping",
    "SELECT l_orderkey, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_scaled, "
    "CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00' "
    "AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue_scaled DESC, l_orderkey LIMIT 10",
)
def tpch_q3_shipping(spark, sf_dir):
    """Q3-style: selective dim filter → joined fact scan → grouped
    revenue → global top-10. No forced broadcast hints: customer
    scales with SF, so AQE picks broadcast when the filtered side is
    small and degrades to a shuffle join at 100 TB instead of OOMing
    the driver."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "revenue_scaled"
            )
        )
        .select(
            "l_orderkey",
            "revenue_scaled",
            F.col("o_orderdate").cast("timestamp").cast("long").alias("orderdate_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue_scaled").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_nation_revenue",
    "SELECT n_name, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_scaled "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY 1 ORDER BY 1",
)
def tpch_q5_nation_revenue(spark, sf_dir):
    """Q5-style star join: bounded dims (nation, region) carry forced
    broadcast hints; customer/supplier scale with SF so their join
    strategy is left to AQE (broadcast when small, shuffle at 100 TB)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "revenue_scaled"
            )
        )
        .orderBy("n_name")
    )


@register(
    "tpch_q6_forecast",
    "SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_scaled, "
    "count(*) AS n_rows FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24",
)
def tpch_q6_forecast(spark, sf_dir):
    """Q6-style forecasting: the pure-pushdown query — every predicate
    reaches the parquet scan, no joins, one partial-agg shuffle of a
    single row per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100).cast("long")  # noqa: E731
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(cents("l_extendedprice") * cents("l_discount")).alias("revenue_scaled"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "tpch_q18_big_orders",
    "SELECT o_orderkey, c_name, "
    "CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents, total_qty "
    "FROM orders JOIN customer ON o_custkey = c_custkey JOIN ("
    "SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty "
    "FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 150"
    ") ON o_orderkey = l_orderkey ORDER BY o_orderkey",
)
def tpch_q18_big_orders(spark, sf_dir):
    """Q18-style large-volume orders: aggregate-then-join (HAVING
    filter shrinks lineitem to the few big orders BEFORE the order/
    customer joins — at 100 TB the agg output is orders-of-magnitude
    smaller than the fact, so the joins broadcast). l_quantity is
    whole-numbered; cast to BIGINT makes the sum exact."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            "total_qty",
        )
        .orderBy("o_orderkey")
    )


@register(
    "tpch_q4_late_orders",
    "SELECT o_orderpriority, count(*) AS n_orders FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) "
    "GROUP BY 1 ORDER BY 1",
)
def tpch_q4_late_orders(spark, sf_dir):
    """Q4-style EXISTS as a left-semi join: orders with any line
    shipped >90 days after the order date, counted by priority. The
    semi join keeps each order at most once with no post-join dedup;
    lineitem prunes to (l_orderkey, l_shipdate) at the scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q2_top_supplier",
    "SELECT n_name, s_suppkey, s_name, "
    "CAST(floor(s_acctbal * 100) AS BIGINT) AS acctbal_cents FROM ("
    "SELECT n_name, s_suppkey, s_name, s_acctbal, "
    "row_number() OVER (PARTITION BY n_name "
    "ORDER BY s_acctbal DESC, s_suppkey) AS rn "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey"
    ") WHERE rn = 1 ORDER BY n_name",
)
def tpch_q2_top_supplier(spark, sf_dir):
    """Q2-style argmax-per-group: each nation's best-funded supplier
    (deterministic tie-break on suppkey). Broadcast dim join + one
    windowed rank — the correlated-subquery shape without a
    correlated subquery."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("s_acctbal").desc(), "s_suppkey")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "n_name",
            "s_suppkey",
            "s_name",
            F.floor(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .orderBy("n_name")
    )


@register(
    "tpch_q14_promo_share",
    "SELECT CAST(floor(1000000.0 * promo_cents / total_cents) AS BIGINT) "
    "AS promo_share_micro, promo_cents, total_cents FROM ("
    "SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN "
    "CAST(floor(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00')",
)
def tpch_q14_promo_share(spark, sf_dir):
    """Q14-style promo revenue share: fact-to-dim join (strategy left
    to AQE — part scales with SF) + conditional aggregation, ratio in
    exact fixed-point
    (integer cents both sides of the division, floored to micro)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0)).alias(
                "promo_cents"
            ),
            F.sum(cents).alias("total_cents"),
        )
    )
    return agg.select(
        F.floor(1000000.0 * F.col("promo_cents") / F.col("total_cents"))
        .cast("long")
        .alias("promo_share_micro"),
        "promo_cents",
        "total_cents",
    )


@register(
    "tpch_q16_supplier_variety",
    "SELECT p_brand, p_type, p_size, "
    "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
    "FROM part JOIN lineitem ON p_partkey = l_partkey "
    "WHERE p_brand <> 'BRAND#3' AND p_type NOT LIKE 'PROMO%' "
    "AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22) "
    "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier "
    "WHERE s_name LIKE '%#21%') "
    "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size "
    "LIMIT 20",
)
def tpch_q16_supplier_variety(spark, sf_dir):
    """Q16-style supplier variety (partsupp stands in as the lineitem
    part↔supplier pairing in this reduced schema): NOT-IN excluded
    suppliers become a null-safe LEFT ANTI join (the excluded set
    scales with SF, so no broadcast hint — AQE decides), dim predicates
    push into the part scan, and COUNT(DISTINCT) shuffles only
    (brand, type, size, suppkey) pairs."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "BRAND#3")
        & (~F.col("p_type").startswith("PROMO"))
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_name").contains("#21"))
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(excluded, "l_suppkey", "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(20)
    )


@register(
    "tpch_salted_priority_revenue",
    "SELECT o_orderpriority, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, "
    "count(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' "
    "GROUP BY 1 ORDER BY 1",
)
def tpch_salted_priority_revenue(spark, sf_dir):
    """The explicit skew tool, end-to-end: lineitem joined through
    operators.skew.salted_join (hot l_orderkey spread over 8 salt
    buckets, filtered orders replicated 8x). Row-identical to the
    plain join — proven by the oracle hash."""
    from proglog_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    return (
        salted_join(li, o, on="l_orderkey", salt_factor=8)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


def _exact_length_quantiles(spark, sf_dir, qs):
    """Exact nearest-rank quantile rows (q, n_chars) via the
    range-partitioned global rank (`operators/rank.py`) — the earlier
    formulation used a PARTITION-BY-less window, which collapses the
    whole corpus into one task at scale. The total row count comes
    back with the rank, so the target ranks are three literals joined
    as a broadcast 3-row relation."""
    import math

    from proglog_spark.operators import rank as rank_ops

    d = load_table(spark, sf_dir, "documents")
    ranked, n = rank_ops.with_global_rank(
        d.select("n_chars", "doc_id"), ["n_chars", "doc_id"], rank_col="rn"
    )
    tdf = spark.createDataFrame(
        [(q, math.ceil(q / 100.0 * n)) for q in qs], "q int, rn bigint"
    )
    return (
        ranked.withColumn("rn", F.col("rn").cast("long"))
        .join(F.broadcast(tdf), "rn")
        .groupBy("q")
        .agg(F.min("n_chars").cast("long").alias("n_chars"))
    )


@register(
    "docs_length_quantiles",
    "WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn, "
    "count(*) OVER () AS n FROM documents) "
    "SELECT q, CAST(min(n_chars) AS BIGINT) AS n_chars FROM ("
    "SELECT 50 AS q, n_chars FROM r WHERE rn = CAST(ceil(0.50 * n) AS BIGINT) "
    "UNION ALL SELECT 90, n_chars FROM r WHERE rn = CAST(ceil(0.90 * n) AS BIGINT) "
    "UNION ALL SELECT 99, n_chars FROM r WHERE rn = CAST(ceil(0.99 * n) AS BIGINT)"
    ") GROUP BY q ORDER BY q",
)
def docs_length_quantiles(spark, sf_dir):
    """Exact nearest-rank quantiles (p50/p90/p99 of document length) —
    rank-based so both engines pick the identical element, computed
    with the scalable two-phase global rank (no single-partition
    window); `docs_length_quantiles_sketch` is the one-pass sketch
    twin."""
    return _exact_length_quantiles(spark, sf_dir, (50, 90, 99)).orderBy("q")


@register(
    "events_heavy_users",
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY 1 "
    "HAVING count(*) > (SELECT 1.2 * count(*) / count(DISTINCT user_id) FROM events) "
    "ORDER BY n_events DESC, user_id LIMIT 50",
)
def events_heavy_users(spark, sf_dir):
    """Exact heavy hitters: users with > 1.2x the mean event count —
    one hash-shuffle groupBy + a broadcast scalar threshold (the
    skew-detection primitive a salting strategy starts from)."""
    e = load_table(spark, sf_dir, "events")
    thresh = e.agg(
        (F.lit(1.2) * F.count(F.lit(1)) / F.countDistinct("user_id")).alias("_t")
    )
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .join(F.broadcast(thresh))
        .where(F.col("n_events") > F.col("_t"))
        .drop("_t")
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(50)
    )


_ROLLUP_SQL = (
    "SELECT coalesce(event_type, '__ALL__') AS event_type, "
    "coalesce(um, -1) AS user_mod, count(*) AS n_events "
    "FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS um FROM {table}) "
    "GROUP BY ROLLUP(event_type, um) ORDER BY event_type, user_mod"
)


_CUBE_SQL = (
    "SELECT coalesce(event_type, '__ALL__') AS event_type, "
    "coalesce(um, -1) AS user_mod, count(*) AS n_events "
    "FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS um FROM {table}) "
    "GROUP BY CUBE(event_type, um) ORDER BY event_type, user_mod"
)


@register("events_cube_counts", _CUBE_SQL.format(table="events"))
def events_cube_counts(spark, sf_dir):
    """Full CUBE over (event_type, user decile) — all four grouping
    sets in one pass via Expand (one shuffle, not four scans). Same
    identical-SQL-text device as the rollup twin."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_cube_src")
    return spark.sql(_CUBE_SQL.format(table="events_cube_src"))


@register(
    "events_pivot_counts",
    "SELECT user_id, "
    "count(*) FILTER (WHERE event_type = 'click') AS click, "
    "count(*) FILTER (WHERE event_type = 'error') AS error, "
    "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, "
    "count(*) FILTER (WHERE event_type = 'signup') AS signup, "
    "count(*) FILTER (WHERE event_type = 'view') AS view "
    "FROM events GROUP BY 1 ORDER BY 1",
)
def events_pivot_counts(spark, sf_dir):
    """Pivot: one row per user, one count column per event type. The
    explicit values list keeps it single-pass (no distinct-values
    pre-query) and schema-stable at any scale; the oracle is the
    equivalent conditional aggregation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
        .orderBy("user_id")
    )


@register(
    "events_trailing_hour_count",
    "SELECT event_id, user_id, "
    "CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts "
    "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS n_trailing_1h FROM events QUALIFY n_trailing_1h >= 2 "
    "ORDER BY event_id",
)
def events_trailing_hour_count(spark, sf_dir):
    """RANGE-frame window: per event, how many same-user events fall
    in the trailing hour (burst detection). The frame is value-based
    (rangeBetween on epoch seconds), not row-based — duplicate
    timestamps share a frame, so the count is well-defined without a
    tie-break."""
    e = load_table(spark, sf_dir, "events")
    # micros, not seconds: unix_timestamp would truncate and admit
    # rows just outside the hour that the full-precision oracle excludes
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).cast("long").alias("n_trailing_1h"),
        )
        .where(F.col("n_trailing_1h") >= 2)
        .orderBy("event_id")
    )


@register("events_rollup_counts", _ROLLUP_SQL.format(table="events"))
def events_rollup_counts(spark, sf_dir):
    """Hierarchical ROLLUP totals (grouping sets — absent in the
    reference, free in Spark SQL; SURVEY §2.0b). The Spark side runs
    the IDENTICAL SQL text through spark.sql over a registered view —
    also exercising the engine's SQL entry path."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_rollup_src")
    return spark.sql(_ROLLUP_SQL.format(table="events_rollup_src"))


# ---------------------------------------------------------------------------
# Join-shape widening: outer/anti/disjunctive/correlated flavors
# (each exercises a distinct physical-plan shape; SURVEY §2.0b joins row)
# ---------------------------------------------------------------------------


@register(
    "tpch_q12_priority_lines",
    "SELECT l_returnflag, "
    "count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) "
    "AS high_line_count, "
    "count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) "
    "AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY 1 ORDER BY 1",
)
def tpch_q12_priority_lines(spark, sf_dir):
    """Q12-style conditional aggregation over a fact-fact join. Both
    sides are large at scale, so this is the canonical shuffle
    (sort-merge/shuffled-hash) join on the order key — the date filter
    prunes lineitem at the scan, and the priority CASE folds into the
    partial aggregate, so only (flag, 2 longs) cross the final
    exchange."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "tpch_q13_custdist",
    "SELECT c_count, count(*) AS custdist FROM ("
    "SELECT c_custkey, count(o_orderkey) AS c_count "
    "FROM customer LEFT JOIN orders "
    "ON c_custkey = o_custkey AND o_orderstatus <> 'F' "
    "GROUP BY 1) GROUP BY 1 ORDER BY custdist DESC, c_count DESC",
)
def tpch_q13_custdist(spark, sf_dir):
    """Q13-style customer-order distribution: LEFT OUTER join with a
    residual predicate on the right side, then two aggregation levels
    (orders per customer → customers per order-count). The outer join
    preserves order-less customers as count 0; count(o_orderkey)
    counts non-null only — the classic outer-join/count interplay."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "F"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q16_part_suppliers",
    "SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_brand <> 'Brand#21' AND p_size IN (1, 14, 23, 45) "
    "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size",
)
def tpch_q16_part_suppliers(spark, sf_dir):
    """Q16-style supplier diversity: distinct-count after an anti join
    (the NOT IN exclusion list) and a dim join. The exclusion list
    (negative-balance suppliers) and the filtered part side both scale
    with SF, so join strategy is AQE's call — broadcast at today's
    sizes, shuffle at 100 TB; the distinct agg shuffles (brand, size,
    suppkey) only."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#21") & F.col("p_size").isin(1, 14, 23, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@register(
    "tpch_q17_small_qty_revenue",
    "WITH pa AS (SELECT l_partkey AS pk, "
    "CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c, "
    "count(*) AS cnt FROM lineitem GROUP BY 1) "
    "SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS small_qty_price_cents, count(*) AS n_lines "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "JOIN pa ON pk = l_partkey "
    "WHERE p_brand = 'Brand#23' AND p_size <= 10 "
    "AND CAST(floor(l_quantity * 100) AS BIGINT) * 5 * cnt < sum_qty_c",
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """Q17-style correlated scalar subquery (lines below 20% of their
    part's average quantity), decorrelated into an aggregate-then-join.
    The threshold compare is multiplied through (qty*5*cnt < sum) so
    the arithmetic stays integer-exact — no float division crosses
    engines. Spark side restricts to brand parts FIRST (semi-shaped
    join, strategy AQE's), so the per-part aggregate runs over the 1/25th slice that
    can ever match — the decorrelation Catalyst can't derive itself."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_extendedprice",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
    )
    li_brand = li.join(p, li.l_partkey == p.p_partkey).drop("p_partkey")
    pa = li_brand.groupBy("l_partkey").agg(
        F.sum("qty_c").alias("sum_qty_c"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li_brand.join(pa, "l_partkey")
        .where(F.col("qty_c") * 5 * F.col("cnt") < F.col("sum_qty_c"))
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "small_qty_price_cents"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q19_disjunctive",
    "SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_scaled, "
    "count(*) AS n_lines "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
    "AND l_quantity BETWEEN 1 AND 11) "
    "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
    "AND l_quantity BETWEEN 10 AND 20) "
    "OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity BETWEEN 20 AND 30)",
)
def tpch_q19_disjunctive(spark, sf_dir):
    """Q19-style OR-of-ANDs predicate. The join key (p_partkey =
    l_partkey) is conjunctive, so Catalyst keeps an equi-join and
    evaluates the disjunction as a residual; the single-table parts of
    the disjunction (brand+size | quantity ranges) are pushed to each
    scan as derived filters — l_quantity BETWEEN 1 AND 30 prunes
    lineitem row groups before the join."""
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    p = load_table(spark, sf_dir, "part").where(
        (
            (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
        )
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(1, 30)
    )
    arm = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(arm)
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "revenue_scaled"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q22_idle_customers",
    "WITH bal AS (SELECT "
    "CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_c, "
    "count(*) AS cnt FROM customer WHERE c_acctbal > 0) "
    "SELECT c_mktsegment, count(*) AS numcust, "
    "CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_cents "
    "FROM customer, bal "
    "WHERE CAST(floor(c_acctbal * 100) AS BIGINT) * cnt > sum_c "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderpriority = '1-URGENT') "
    "GROUP BY 1 ORDER BY 1",
)
def tpch_q22_idle_customers(spark, sf_dir):
    """Q22-style: global-average scalar subquery + NOT EXISTS anti
    join (wealthy customers who never placed an urgent order). The
    above-average test is multiplied through (bal*cnt > sum) so it is
    integer-exact; the scalar aggregate is a 1-row broadcast (cross)
    join; the anti join shuffles only the filtered urgent-order keys."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        F.col("c_acctbal"),
    )
    bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg(F.sum("bal_c").alias("sum_c"), F.count(F.lit(1)).alias("cnt"))
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(bal))
        .where(F.col("bal_c") * F.col("cnt") > F.col("sum_c"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_c").alias("total_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "tpch_q10_returned_revenue",
    "SELECT c_custkey, c_name, n_name, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_scaled "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "JOIN orders ON o_custkey = c_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00' "
    "AND l_returnflag = 'R' "
    "GROUP BY 1, 2, 3 ORDER BY revenue_scaled DESC, c_custkey LIMIT 20",
)
def tpch_q10_returned_revenue(spark, sf_dir):
    """Q10-style top-k by aggregate: returned-item revenue per
    customer for one quarter. The fact-fact join shuffles on the order
    key; revenue is grouped down to one row per customer BEFORE the
    customer join, so the second shuffle carries aggregates, not line
    items; nation broadcasts; the global top-20 is a TakeOrdered, not
    a full sort."""
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-04-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "revenue_scaled"
            )
        )
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue_scaled")
        .orderBy(F.col("revenue_scaled").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Window/scalar-surface widening: lag deltas, global ntile, arg-min/max,
# INTERSECT, explode+agg term frequencies
# ---------------------------------------------------------------------------


@register(
    "events_gap_stats",
    "WITH g AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events) "
    "SELECT event_type, count(*) AS n_gaps, "
    "CAST(sum(gap_us) AS BIGINT) AS sum_gap_us, "
    "CAST(min(gap_us) AS BIGINT) AS min_gap_us, "
    "CAST(max(gap_us) AS BIGINT) AS max_gap_us "
    "FROM g WHERE gap_us IS NOT NULL GROUP BY 1 ORDER BY 1",
)
def events_gap_stats(spark, sf_dir):
    """lead/lag surface: inter-event gap (µs) per user via lag over
    the per-user shuffle, aggregated per event type. Gaps are exact
    integer micros, so sums hash-match across engines (no float
    reassociation)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return (
        e.select(
            "event_type",
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").alias("sum_gap_us"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "events_decile_value",
    "SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_events, "
    "min(event_id) AS min_event_id, max(event_id) AS max_event_id "
    "FROM (SELECT event_id, ntile(10) OVER (ORDER BY value, event_id) AS decile "
    "FROM events) GROUP BY 1 ORDER BY 1",
)
def events_decile_value(spark, sf_dir):
    """Global NTILE(10) over event value — via operators/rank.py's
    range-partitioned global ranking, NOT a PARTITION-BY-less window
    (which would serialize 100 TB through one task). The oracle is the
    plain SQL ntile; results are identical because the operator
    replicates exact NTILE remainder semantics."""
    from proglog_spark.operators import rank as rank_ops

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    tiled = rank_ops.with_global_ntile(e, ["value", "event_id"], 10, tile_col="decile")
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("decile")
    )


@register(
    "events_first_last_touch",
    "WITH w AS (SELECT user_id, event_type, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d "
    "FROM events) "
    "SELECT user_id, "
    "max(CASE WHEN rn_a = 1 THEN event_type END) AS first_touch, "
    "max(CASE WHEN rn_d = 1 THEN event_type END) AS last_touch, "
    "count(*) AS n_events FROM w GROUP BY 1 ORDER BY 1",
)
def events_first_last_touch(spark, sf_dir):
    """First/last-touch attribution per user. Spark side uses ONE
    hash aggregation with min/max over (ts, event_id, event_type)
    structs — no window, no sort, partial aggregation map-side — where
    the naive formulation (the oracle's) needs a full per-user sort.
    (ts, event_id) is unique, so struct order is total and the two
    formulations agree exactly."""
    e = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id", "event_type")
    return (
        e.groupBy("user_id")
        .agg(
            F.min(key).alias("_f"),
            F.max(key).alias("_l"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("_f.event_type").alias("first_touch"),
            F.col("_l.event_type").alias("last_touch"),
            "n_events",
        )
        .orderBy("user_id")
    )


@register(
    "events_same_day_conversion",
    "SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day "
    "FROM events WHERE event_type = 'signup' "
    "INTERSECT SELECT user_id, CAST(date_trunc('day', ts) AS DATE) "
    "FROM events WHERE event_type = 'purchase' "
    "ORDER BY user_id, day",
)
def events_same_day_conversion(spark, sf_dir):
    """Set intersection (INTERSECT): (user, day) pairs that signed up
    AND purchased the same day — the set-op twin of
    events_inactive_users' EXCEPT. Spark plans a distinct + left-semi
    on the pair key: the shuffle carries distinct (user, day) pairs,
    never raw events."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    signup = e.where(F.col("event_type") == "signup").select("user_id", day)
    purchase = e.where(F.col("event_type") == "purchase").select("user_id", day)
    return signup.intersect(purchase).orderBy("user_id", "day")


@register(
    "docs_top_terms",
    "SELECT lower(t) AS term, count(*) AS n_occurrences "
    "FROM (SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS t "
    "FROM documents) WHERE t <> '' "
    "GROUP BY 1 ORDER BY n_occurrences DESC, term LIMIT 20",
)
def docs_top_terms(spark, sf_dir):
    """Corpus term frequency: explode(split) → count → top-20. The
    ASCII-letter tokenizer is locale-free so Java and utf8proc
    lowercasing agree; partial aggregation combines counts map-side
    before the term shuffle, and the top-20 is a TakeOrdered (no
    global sort of the vocabulary)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", "[^A-Za-z]+")).alias("t"))
        .where(F.col("t") != "")
        .select(F.lower("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H flavors, third wave: multi-nation joins, scalar-max selection,
# semi-join chains, window-elimination of double correlation (q7/q8/q9/
# q15/q20/q21 shapes, adapted to the fixture schema — no partsupp, no
# commit/receipt dates)
# ---------------------------------------------------------------------------


@register(
    "tpch_q7_volume_shipping",
    "SELECT supp_nation, cust_nation, l_year, "
    "CAST(sum(vol) AS BIGINT) AS revenue_scaled FROM ("
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    "CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT)) AS vol "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    ") GROUP BY 1, 2, 3 ORDER BY 1, 2, 3",
)
def tpch_q7_volume_shipping(spark, sf_dir):
    """Q7-style nation-pair trade volume by ship year. One fact-fact
    shuffle (lineitem⋈orders on orderkey); nation (bounded) keeps a
    forced broadcast, supplier/customer are AQE's call. The
    disjunctive nation-pair predicate is applied after the dim joins
    (reference has zero joins — SURVEY §2.0b)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair | rpair)
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "revenue_scaled"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    "SELECT o_year, "
    "CAST(floor(1000000.0 * nation_vol / total_vol) AS BIGINT) AS share_micro, "
    "nation_vol, total_vol FROM ("
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "CAST(sum(CASE WHEN sn.n_name = 'NATION_2' THEN vol ELSE 0 END) AS BIGINT) "
    "AS nation_vol, CAST(sum(vol) AS BIGINT) AS total_vol FROM ("
    "SELECT o_orderdate, s_nationkey, c_nationkey, "
    "CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT)) AS vol "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN customer ON o_custkey = c_custkey) v "
    "JOIN nation sn ON v.s_nationkey = sn.n_nationkey "
    "JOIN nation cn ON v.c_nationkey = cn.n_nationkey "
    "JOIN region ON cn.n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' GROUP BY 1) ORDER BY o_year",
)
def tpch_q8_market_share(spark, sf_dir):
    """Q8-style market share: NATION_2 suppliers' slice of the ASIA
    customer market per order year, as a floored micro ratio of integer
    volumes (never a float sum). The share's CASE folds into the same
    partial aggregate as the total — one pass, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    vol = cents("l_extendedprice") * (100 - cents("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
    )
    by_year = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(0)).alias(
            "nation_vol"
        ),
        F.sum(vol).alias("total_vol"),
    )
    return by_year.select(
        "o_year",
        F.floor(1000000.0 * F.col("nation_vol") / F.col("total_vol"))
        .cast("long")
        .alias("share_micro"),
        "nation_vol",
        "total_vol",
    ).orderBy("o_year")


@register(
    "tpch_q9_product_profit",
    "SELECT n_name, o_year, CAST(sum(amount) AS BIGINT) AS profit_scaled FROM ("
    "SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS o_year, "
    "CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT)) - "
    "CAST(floor(p_retailprice * 100) AS BIGINT) * 100 * "
    "CAST(floor(l_quantity) AS BIGINT) AS amount "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_type = 'STANDARD') "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def tpch_q9_product_profit(spark, sf_dir):
    """Q9-style product profit by supplier nation × ship year (retail
    price stands in for the missing partsupp supply cost; both sides of
    the subtraction in the same cents·100 scale). The selective p_type
    filter shrinks part 1/25 before its join; nation keeps a forced
    broadcast (bounded), part/supplier join strategy is AQE's call."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    amount = cents("l_extendedprice") * (100 - cents("l_discount")) - cents(
        "p_retailprice"
    ) * 100 * F.floor("l_quantity").cast("long")
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name", F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(F.sum(amount).alias("profit_scaled"))
        .orderBy("n_name", "o_year")
    )


@register(
    "tpch_q15_top_supplier",
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00' GROUP BY 1) "
    "SELECT s_suppkey, s_name, total_revenue FROM supplier "
    "JOIN revenue ON s_suppkey = supplier_no "
    "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue) "
    "ORDER BY s_suppkey",
)
def tpch_q15_top_supplier(spark, sf_dir):
    """Q15-style top supplier: quarter revenue per supplier, keep the
    max (all ties). The revenue aggregate is computed once and reused
    for the scalar max via a 1-row broadcast — no rescan, no window
    over a single partition."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.join(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("_max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q20_promo_shippers",
    "SELECT s_suppkey, s_name, shipped_qty FROM supplier JOIN ("
    "SELECT l_suppkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) "
    "AS shipped_qty FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_type = 'PROMO' AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY 1 HAVING sum(CAST(floor(l_quantity) AS BIGINT)) > 50) q "
    "ON s_suppkey = l_suppkey ORDER BY s_suppkey",
)
def tpch_q20_promo_shippers(spark, sf_dir):
    """Q20-style semi-join chain: suppliers that moved > 50 units of
    PROMO parts in 1996. The HAVING prunes before the supplier join —
    the supplier table is joined to an already-aggregated,
    already-filtered key set, never to raw lineitem; part/supplier
    join strategies are AQE's call (both scale with SF)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.floor("l_quantity").cast("long")).alias("shipped_qty"))
        .where(F.col("shipped_qty") > 50)
    )
    return (
        shipped.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "shipped_qty")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q21_last_shipper",
    "WITH lo AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS md "
    "FROM lineitem GROUP BY 1, 2) "
    "SELECT s_name, count(*) AS n_orders FROM lo l1 "
    "JOIN supplier ON l1.l_suppkey = s_suppkey "
    "WHERE EXISTS (SELECT 1 FROM lo l2 WHERE l2.l_orderkey = l1.l_orderkey "
    "AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lo l3 WHERE l3.l_orderkey = l1.l_orderkey "
    "AND l3.l_suppkey <> l1.l_suppkey AND l3.md >= l1.md) "
    "GROUP BY 1 ORDER BY n_orders DESC, s_name",
)
def tpch_q21_last_shipper(spark, sf_dir):
    """Q21-style double correlation (EXISTS + NOT EXISTS), re-expressed
    as window aggregates: in multi-supplier orders, credit the supplier
    whose last ship date strictly beats every other supplier's. One
    shuffle for the (order, supplier) aggregate, one window pass over
    the same orderkey partitioning — no self-joins, no correlated
    rescans (the oracle keeps the textbook EXISTS form)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    lo = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("md"))
    w = Window.partitionBy("l_orderkey")
    flagged = lo.select(
        "l_suppkey",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.max("md").over(w).alias("max_md"),
        F.col("md"),
        F.sum(F.when(F.col("md") == F.max("md").over(w), 1).otherwise(0))
        .over(w)
        .alias("n_at_max"),
    ).where(
        (F.col("n_supp") > 1)
        & (F.col("md") == F.col("max_md"))
        & (F.col("n_at_max") == 1)
    )
    return (
        flagged.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "n_orders")
        .orderBy(F.col("n_orders").desc(), "s_name")
    )


# ---------------------------------------------------------------------------
# Analytics, third wave: cohort retention, funnels, histograms, Pareto
# concentration, bigram vocabulary, per-source dedup health
# ---------------------------------------------------------------------------


@register(
    "events_retention_cohorts",
    "WITH firstday AS (SELECT user_id, "
    "CAST(floor(min(epoch(ts)) / 86400) AS BIGINT) AS cohort_day FROM events GROUP BY 1) "
    "SELECT cohort_day, "
    "CAST(floor(epoch(ts) / 86400) AS BIGINT) - cohort_day AS day_offset, "
    "count(DISTINCT e.user_id) AS n_users "
    "FROM events e JOIN firstday f ON e.user_id = f.user_id "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen epoch day,
    activity counted by day offset. The first-touch aggregate reuses
    the user_id shuffle; the cohort map has one row per user — it
    scales with data, so its join back onto the fact is AQE's call
    (broadcast when small, co-partitioned shuffle on user_id — the key
    the aggregate already hashed — at 100 TB)."""
    e = load_table(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / F.lit(86400)).cast("long")
    firstday = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    return (
        e.select("user_id", day.alias("day"))
        .join(firstday, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "events_funnel_conversion",
    "WITH stages AS (SELECT user_id, "
    "min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts, "
    "min(CASE WHEN event_type = 'view' THEN ts END) AS view_ts, "
    "min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts "
    "FROM events GROUP BY 1) "
    "SELECT count(CASE WHEN signup_ts IS NOT NULL THEN 1 END) AS n_signup, "
    "count(CASE WHEN view_ts > signup_ts THEN 1 END) AS n_signup_view, "
    "count(CASE WHEN view_ts > signup_ts AND purchase_ts > view_ts THEN 1 END) "
    "AS n_full_funnel FROM stages",
)
def events_funnel_conversion(spark, sf_dir):
    """Ordered funnel signup → view → purchase: per-user first-touch
    timestamps per stage in ONE conditional aggregate (no per-stage
    scans, no joins), then strict-order comparisons. Single user_id
    shuffle; NULL propagation makes missing stages drop out of the
    ordered counts for free."""
    e = load_table(spark, sf_dir, "events")
    first_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    stages = e.groupBy("user_id").agg(
        first_of("signup").alias("signup_ts"),
        first_of("view").alias("view_ts"),
        first_of("purchase").alias("purchase_ts"),
    )
    sv = F.col("view_ts") > F.col("signup_ts")
    return stages.agg(
        F.count(F.when(F.col("signup_ts").isNotNull(), 1)).alias("n_signup"),
        F.count(F.when(sv, 1)).alias("n_signup_view"),
        F.count(F.when(sv & (F.col("purchase_ts") > F.col("view_ts")), 1)).alias(
            "n_full_funnel"
        ),
    )


@register(
    "events_value_histogram",
    "SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n, "
    "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY 1 ORDER BY 1",
)
def events_value_histogram(spark, sf_dir):
    """Fixed-width histogram of event value (bin = floor(value/25)).
    Pure map-side binning + partial agg — the canonical distributed
    histogram; /25.0 is exact in binary so both engines bin
    identically, and the per-bin mass is integer cents."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.floor(F.col("value") / 25.0).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("bin")
    )


@register(
    "events_daily_active",
    "SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, "
    "count(DISTINCT user_id) AS dau, count(*) AS n_events, "
    "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY 1 ORDER BY 1",
)
def events_daily_active(spark, sf_dir):
    """Daily active users + volume: count_distinct expands inside one
    aggregate pass (Spark's two-phase distinct-agg rewrite), keyed on
    epoch day so the day arithmetic is integer-exact in both engines."""
    e = load_table(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / F.lit(86400)).cast("long")
    return (
        e.groupBy(day.alias("day"))
        .agg(
            F.count_distinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("day")
    )


@register(
    "events_pareto_users",
    "WITH per_user AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1), "
    "tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM per_user) "
    "SELECT user_id, n_events, "
    "CAST(floor(1000000.0 * cum / total) AS BIGINT) AS cum_share_micro FROM ("
    "SELECT user_id, n_events, CAST(sum(n_events) OVER ("
    "ORDER BY n_events DESC, user_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum "
    "FROM per_user) p, tot "
    "ORDER BY n_events DESC, user_id LIMIT 20",
)
def events_pareto_users(spark, sf_dir):
    """Pareto concentration: top-20 users by event count with their
    cumulative share (floored micro). Scale shape: the output contract
    is only the top-20 prefix, so the limit runs FIRST (Spark's
    TakeOrderedAndProject — per-partition top-20, driver merge of 20*P
    rows) and the running sum is a 20x20 broadcast triangular
    self-join over the pinned 20-row result — no PARTITION-BY-less
    window ever touches the |users|-sized aggregate. The global total
    is count(*) of events (== sum of per-user counts), a 1-row
    broadcast. The only full-data work is one scan + one user_id
    partial-agg shuffle."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    # sum(per-user counts) == count(*) over events: one scan-side agg,
    # no second groupBy shuffle for the denominator
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("total"))
    top = (
        per_user.orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
        .localCheckpoint(eager=True)  # pin: both self-join sides read 20 rows
    )
    a, b = top.alias("a"), top.alias("b")
    precedes = (F.col("b.n_events") > F.col("a.n_events")) | (
        (F.col("b.n_events") == F.col("a.n_events"))
        & (F.col("b.user_id") <= F.col("a.user_id"))
    )
    cum = (
        a.join(F.broadcast(b), precedes)
        .groupBy(F.col("a.user_id").alias("user_id"), F.col("a.n_events").alias("n_events"))
        .agg(F.sum(F.col("b.n_events")).cast("long").alias("cum"))
    )
    return (
        cum.join(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            F.floor(1000000.0 * F.col("cum") / F.col("total"))
            .cast("long")
            .alias("cum_share_micro"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
    )


@register(
    "docs_bigram_counts",
    "SELECT bigram, count(*) AS n_occurrences FROM ("
    "SELECT lower(toks[i] || ' ' || toks[i + 1]) AS bigram FROM ("
    "SELECT list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), "
    "t -> t <> '') AS toks FROM documents) d, "
    "UNNEST(range(1, greatest(len(toks), 1))) AS u(i)) "
    "GROUP BY 1 ORDER BY n_occurrences DESC, bigram LIMIT 20",
)
def docs_bigram_counts(spark, sf_dir):
    """Corpus bigram vocabulary, top-20. Adjacent-pair construction is
    array-native (transform over an index sequence — no posexplode
    self-join), tokens stay JVM-side throughout, and the final top-20
    is a TakeOrdered, not a vocabulary-wide sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", "[^A-Za-z]+"), lambda t: t != "")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(F.col("toks")) - 2, F.lit(-1))),
        lambda i: F.lower(
            F.concat(F.element_at(F.col("toks"), i + 1), F.lit(" "),
                     F.element_at(F.col("toks"), i + 2))
        ),
    )
    return (
        d.select(toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(20)
    )


@register(
    "docs_source_dedup_stats",
    "SELECT source, count(*) AS n_docs, "
    "count(DISTINCT md5(text)) AS n_distinct, "
    "CAST(floor(1000000.0 * (count(*) - count(DISTINCT md5(text))) / count(*)) "
    "AS BIGINT) AS dup_rate_micro "
    "FROM documents GROUP BY 1 ORDER BY 1",
)
def docs_source_dedup_stats(spark, sf_dir):
    """Dedup health per source: doc counts, distinct content hashes,
    and a floored-micro duplicate rate — the corpus-curation dashboard
    query. Hashing before the distinct keeps the shuffle rows at
    32 hex chars instead of full documents."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.md5("text")).alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            F.floor(
                1000000.0 * (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs")
            )
            .cast("long")
            .alias("dup_rate_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Training-data curation, fourth wave: repetition filters, benchmark
# contamination, split assignment, sequence mining + the Q11 shape
# ---------------------------------------------------------------------------


@register(
    "docs_repetition_stats",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "wt AS (SELECT doc_id, unnest(w) AS term FROM w), "
    "bt AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), "
    "i -> w[i] || ' ' || w[i+1])) AS term FROM w), "
    "wc AS (SELECT doc_id, term, count(*) AS c FROM wt GROUP BY 1, 2), "
    "bc AS (SELECT doc_id, term, count(*) AS c FROM bt GROUP BY 1, 2), "
    "ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, "
    "CAST(count(*) AS BIGINT) AS n_distinct_words, "
    "CAST(max(c) AS BIGINT) AS top_word_n FROM wc GROUP BY 1), "
    "bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n FROM bc GROUP BY 1) "
    "SELECT ws.doc_id, n_words, n_distinct_words, top_word_n, "
    "COALESCE(top_bigram_n, 0) AS top_bigram_n, "
    "CAST(floor(1000000.0 * top_word_n / n_words) AS BIGINT) AS top_word_micro "
    "FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id ORDER BY ws.doc_id",
)
def docs_repetition_stats(spark, sf_dir):
    """Gopher-style within-document repetition filter: word count,
    distinct words, most-frequent word and bigram counts, and the
    top-word mass in micro-fraction — the signals used to drop
    boilerplate/spam docs before training. One explode feeds both
    unigram and bigram counts (words and bigrams union-tagged into a
    single (doc, kind, term) partial-agg shuffle), then a per-doc
    rollup; no joins against the corpus, scales linearly in tokens."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.expr(
            "transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
        ),
    ).otherwise(F.expr("array()"))
    terms = w.select(
        "doc_id", F.lit("w").alias("kind"), F.explode("w").alias("term")
    ).unionAll(
        w.select("doc_id", F.lit("b").alias("kind"), F.explode(bigrams).alias("term"))
    )
    counts = terms.groupBy("doc_id", "kind", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    is_w = F.col("kind") == "w"
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
            F.sum(F.when(is_w, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_distinct_words"
            ),
            F.max(F.when(is_w, F.col("c"))).alias("top_word_n"),
            F.coalesce(F.max(F.when(~is_w, F.col("c"))), F.lit(0)).alias(
                "top_bigram_n"
            ),
        )
        .withColumn(
            "top_word_micro",
            F.floor(1000000.0 * F.col("top_word_n") / F.col("n_words")).cast("long"),
        )
        .orderBy("doc_id")
    )


_CONTAM_GRAMS_SQL = (
    "w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3), "
    "i -> array_to_string(w[i:i+4], ' '))) AS gs FROM w)"
)


def _doc_gram_sets(spark, sf_dir) -> DataFrame:
    """Per-doc distinct word 5-gram arrays, cached session-wide.

    The gram build (split → sliding concat → array_distinct) is the
    single most expensive string stage in the suite and is needed by
    both the contamination check and the curation pipeline. Both call
    through here so the logical plan is byte-identical and Spark's
    cache manager serves the second caller from the first
    materialization — the same session-scoped reuse pattern as the
    dedup family's shingle/sketch caches (`operators/dedup.py`)."""
    from proglog_spark.sources.tables import fan_out

    # single-file fixture → fan out so the gram build uses every core
    # (no-op at scale where the input already has enough splits)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    grams = F.when(
        F.size("w") >= 5,
        F.expr(
            "transform(sequence(1, size(w) - 4), "
            "i -> concat_ws(' ', slice(w, i, 5)))"
        ),
    ).otherwise(F.expr("array()"))
    # cache: shared across the two callers named in the docstring
    # (session-scoped, LRU-evicted — the dedup module Cache note)
    return w.select("doc_id", F.array_distinct(grams).alias("gs")).cache()


@register(
    "docs_contamination",
    f"WITH {_CONTAM_GRAMS_SQL}, "
    "bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0), "
    "dg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0), "
    "hit AS (SELECT dg.doc_id, count(*) AS n_shared_grams FROM dg "
    "JOIN bg USING (gram) GROUP BY 1) "
    "SELECT g.doc_id, CAST(hit.n_shared_grams AS BIGINT) AS n_shared_grams, "
    "CAST(len(g.gs) AS BIGINT) AS n_grams, "
    "CAST(floor(1000000.0 * hit.n_shared_grams / len(g.gs)) AS BIGINT) "
    "AS contamination_micro "
    "FROM g JOIN hit ON g.doc_id = hit.doc_id ORDER BY g.doc_id",
)
def docs_contamination(spark, sf_dir):
    """Benchmark-contamination check: word 5-gram overlap between every
    corpus document and a held-out benchmark set (here: doc_id % 97).
    The production shape for decontaminating pretraining data: the
    benchmark gram set is tiny relative to the corpus, so it is
    DISTINCT-ed and broadcast; each corpus doc's distinct grams stream
    through a broadcast LEFT SEMI join (no corpus shuffle, no pair
    explosion) and a per-doc count yields the overlap fraction."""
    g = _doc_gram_sets(spark, sf_dir)
    is_bench = F.col("doc_id") % 97 == 0
    bench_grams = (
        g.where(is_bench).select(F.explode("gs").alias("gram")).distinct()
    )
    # n_grams rides the explode so the corpus gram arrays are built
    # exactly once (a separate size() branch would rebuild them all)
    return (
        g.where(~is_bench)
        .select("doc_id", F.size("gs").cast("long").alias("n_grams"),
                F.explode("gs").alias("gram"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.min("n_grams").alias("n_grams"),
        )
        .select(
            "doc_id",
            "n_shared_grams",
            "n_grams",
            F.floor(1000000.0 * F.col("n_shared_grams") / F.col("n_grams"))
            .cast("long")
            .alias("contamination_micro"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_train_split",
    "SELECT source, CASE WHEN b < 800000 THEN 'train' "
    "WHEN b < 900000 THEN 'valid' ELSE 'test' END AS split, "
    "count(*) AS n_docs FROM "
    "(SELECT source, CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), "
    "1, 8) AS BIGINT) % 1000000 AS b FROM documents) "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def docs_train_split(spark, sf_dir):
    """Deterministic 80/10/10 train/valid/test assignment
    (operators/sampling.train_split): membership is a pure function of
    doc_id, so the split is reproducible across runs, stable under
    repartitioning, and join-consistent with any table keyed by the
    same id — prerequisites for a dataset card. The assignment itself
    is a shuffle-free projection; this query audits per-source counts."""
    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.train_split(d, "doc_id")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


@register(
    "events_unpivot_extremes",
    "WITH a AS (SELECT event_type, CAST(floor(min(value)*100) AS BIGINT) AS min_cents, "
    "CAST(floor(max(value)*100) AS BIGINT) AS max_cents, count(*) AS n_events "
    "FROM events GROUP BY 1) "
    "SELECT event_type, metric, val FROM ("
    "SELECT event_type, 'min_cents' AS metric, min_cents AS val FROM a "
    "UNION ALL SELECT event_type, 'max_cents', max_cents FROM a "
    "UNION ALL SELECT event_type, 'n_events', n_events FROM a) "
    "ORDER BY event_type, metric",
)
def events_unpivot_extremes(spark, sf_dir):
    """Unpivot (wide->long melt) surface: per-type extremes pivoted to
    (type, metric, value) rows via DataFrame.unpivot — the Expand-based
    single-pass melt (no self-union: one scan, not three). Values
    integer fixed-point so the long layout stays hash-checkable."""
    e = load_table(spark, sf_dir, "events")
    wide = e.groupBy("event_type").agg(
        F.floor(F.min("value") * 100).cast("long").alias("min_cents"),
        F.floor(F.max("value") * 100).cast("long").alias("max_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return wide.unpivot(
        ["event_type"], ["min_cents", "max_cents", "n_events"], "metric", "val"
    ).orderBy("event_type", "metric")


@register(
    "events_props_map_explode",
    # oracle parses the (fixed, single-entry) props object textually —
    # DuckDB's json table functions aren't loadable from a bare query
    "SELECT regexp_extract(props, '\"([^\"]+)\"', 1) AS prop_key, "
    "count(*) AS n_rows, "
    "CAST(sum(CAST(regexp_extract(props, ': *(-?[0-9]+)', 1) AS BIGINT)) AS BIGINT) AS value_sum "
    "FROM events GROUP BY 1 ORDER BY 1",
)
def events_props_map_explode(spark, sf_dir):
    """Map-type surface: parse the props JSON object into
    map<string,string>, explode to (key, value) rows (generator over a
    map), aggregate per key. The lateral fan-out shape for nested
    property bags — narrow (explode factor = bag size), then one
    partial-agg shuffle on the low-cardinality key."""
    e = load_table(spark, sf_dir, "events")
    kv = e.select(
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "prop_key", "prop_value"
        )
    )
    return (
        kv.groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("prop_value").cast("long")).alias("value_sum"),
        )
        .orderBy("prop_key")
    )


@register(
    "events_user_value_percentiles",
    "WITH t AS (SELECT user_id, CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS total_cents "
    "FROM events GROUP BY 1) "
    "SELECT user_id, total_cents, "
    "CAST(floor(1000000.0 * (rank() OVER (ORDER BY total_cents, user_id) - 1) "
    "/ (count(*) OVER () - 1)) AS BIGINT) AS pct_rank_micro, "
    "CAST(floor(1000000.0 * (cume_dist() OVER (ORDER BY total_cents, user_id))) AS BIGINT) "
    "AS cume_micro FROM t ORDER BY user_id",
)
def events_user_value_percentiles(spark, sf_dir):
    """percent_rank / cume_dist window flavor over per-user totals —
    micro fixed-point so the rational outputs hash identically. Scale
    shape: the ordering key (total_cents, user_id) is UNIQUE per row,
    so rank() == row_number() == the dense global rank and
    cume_dist == rank/n — both derived from operators/rank.py's
    range-partitioned two-phase global rank instead of a
    PARTITION-BY-less window (which would serialize every user through
    one task at 100 TB). Float formulas mirror the oracle's operator
    order exactly: (1e6 * (r-1)) / (n-1) and 1e6 * (r/n)."""
    from proglog_spark.operators import rank as rank_ops

    e = load_table(spark, sf_dir, "events")
    # per-row integer cents, then exact integer sum — float sums are
    # order-dependent and banned from the hashed set (FIXTURES §3)
    t = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("total_cents")
    )
    ranked, n = rank_ops.with_global_rank(
        t, ["total_cents", "user_id"], rank_col="_r"
    )
    return ranked.select(
        "user_id",
        "total_cents",
        F.floor((F.lit(1000000.0) * (F.col("_r") - 1)) / F.lit(n - 1))
        .cast("long")
        .alias("pct_rank_micro"),
        F.floor(F.lit(1000000.0) * (F.col("_r") / F.lit(n)))
        .cast("long")
        .alias("cume_micro"),
    ).orderBy("user_id")


@register(
    "events_halves_full_outer",
    "WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m FROM events), "
    "h1 AS (SELECT user_id, count(*) AS n1 FROM events, mid WHERE epoch_us(ts) < m GROUP BY 1), "
    "h2 AS (SELECT user_id, count(*) AS n2 FROM events, mid WHERE epoch_us(ts) >= m GROUP BY 1) "
    "SELECT coalesce(h1.user_id, h2.user_id) AS user_id, "
    "coalesce(n1, 0) AS n_first_half, coalesce(n2, 0) AS n_second_half, "
    "coalesce(n2, 0) - coalesce(n1, 0) AS activity_delta "
    "FROM h1 FULL OUTER JOIN h2 ON h1.user_id = h2.user_id "
    "ORDER BY user_id",
)
def events_halves_full_outer(spark, sf_dir):
    """FULL OUTER join flavor: period-over-period per-user activity
    (first vs second half of the event-time range), users present in
    either period — the drift/churn comparison shape. Both sides are
    pre-aggregated (shuffle carries one row per user per side, not
    events), the midpoint is a 1-row broadcast, and the full-outer is
    the only row-expanding step."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    # exact integer midpoint in epoch-µs — matches the oracle's // 2
    mid = e.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("m")
    )
    tagged = e.join(F.broadcast(mid)).select(
        "user_id", (us < F.col("m")).alias("in_h1")
    )
    h1 = (
        tagged.where("in_h1")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    h2 = (
        tagged.where(~F.col("in_h1"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    return (
        h1.join(h2, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n1", F.lit(0)).alias("n_first_half"),
            F.coalesce("n2", F.lit(0)).alias("n_second_half"),
            (F.coalesce("n2", F.lit(0)) - F.coalesce("n1", F.lit(0))).alias(
                "activity_delta"
            ),
        )
        .orderBy("user_id")
    )


_PCA_POWER_SQL = (
    # exact replay of quantized_gram + integer_power_iteration: the
    # Gram is an order-independent INTEGER sum, the 400 power steps
    # run in a recursive CTE with the same trunc-toward-zero rescale
    # (matmul in BIGINT — valid through the fixture scales the oracle
    # runs at; the rescale multiply and the Rayleigh pair in HUGEINT),
    # and the eigenvalue estimate is the exact integer division of the
    # Rayleigh pair — bit-identical to the Spark/driver trajectory
    "WITH RECURSIVE "
    "qv AS (SELECT list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
    "g AS (SELECT i.i AS i, j.j AS j, CAST(sum(q[i.i + 1] * q[j.j + 1]) AS BIGINT) AS s "
    "FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i) i "
    "CROSS JOIN (SELECT unnest(range(64)) AS j) j GROUP BY 1, 2), "
    "gl AS (SELECT i, list(s ORDER BY j) AS row FROM g GROUP BY i), "
    "gm AS (SELECT list(row ORDER BY i) AS m FROM gl), "
    "it(k, v) AS ("
    "SELECT 0, list_transform(range(64), x -> CAST(1 AS BIGINT)) "
    "UNION ALL "
    "SELECT k + 1, list_transform("
    "[list_transform(gm.m, row -> CAST(list_sum(list_transform(range(1, 65), "
    "t -> row[t] * it.v[t])) AS BIGINT))], "
    "w -> list_transform(w, x -> CAST(CASE WHEN x < 0 THEN -1 ELSE 1 END * "
    "((CAST(abs(x) AS HUGEINT) * 1000000) // "
    "list_max(list_transform(w, y -> abs(y)))) AS BIGINT)))[1] "
    "FROM it, gm WHERE k < 400), "
    "fin AS (SELECT v FROM it WHERE k = 400), "
    "ray AS (SELECT list_sum(list_transform(range(1, 65), "
    "i -> CAST(fin.v[i] AS HUGEINT) * list_sum(list_transform(range(1, 65), "
    "t -> CAST(gm.m[i][t] AS HUGEINT) * fin.v[t])))) AS num, "
    "list_sum(list_transform(fin.v, x -> CAST(x AS HUGEINT) * x)) AS den "
    "FROM fin, gm) "
    "SELECT d.d AS dim, fin.v[d.d + 1] AS v_micro, "
    "CAST(ray.num // ray.den AS BIGINT) AS eigenvalue_est "
    "FROM fin, ray, (SELECT unnest(range(64)) AS d) d ORDER BY dim"
)


@register("emb_pca_power", _PCA_POWER_SQL)
def emb_pca_power(spark, sf_dir):
    """Iterative distributed PCA over the embedding table — now
    oracle-EXACT: the d×d Gram is an integer sum on the floor(x·1000)
    grid (integer addition is associative, so the distributed partial
    aggregation is order-independent — the float Gram's reassociation
    was the reason this sat rows-only), and the 400-step power
    iteration rescales on a 10^6 integer grid with truncation, so the
    whole eigensolve trajectory replays bit-for-bit in a recursive-CTE
    SQL oracle. Converged even on the fixture's near-random spectrum
    (|cos| = 1.0 vs numpy's dense eigensolve, eigen-gap 1.017 — the
    worst case; the oracle replay is the expensive half at ~25 s).
    Output: the dominant eigenvector on a ±10^6 grid plus the exact
    integer Rayleigh eigenvalue estimate. `tests/test_operators.py`
    checks the integer eigensolve against numpy's."""
    from proglog_spark.operators import linalg

    e = load_table(spark, sf_dir, "embeddings")
    G = linalg.quantized_gram(e, "embedding", dim=64)
    v, num, den = linalg.integer_power_iteration(G)
    return spark.createDataFrame(
        [(i, v[i], num // den) for i in range(64)],
        "dim LONG, v_micro LONG, eigenvalue_est LONG",
    ).orderBy("dim")


# deterministic PII augmentation shared by the Spark query and the
# oracle: the synthetic corpus contains no PII (verified: zero digits,
# '@' or 'http' at every sf), so both engines append the same synthetic
# contact line before scrubbing — the operator is exercised for real
# and the redaction output stays hash-checkable.
_PII_AUG_SQL = (
    "SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@mail.example.com at 10.' || CAST(doc_id % 200 AS VARCHAR) "
    "|| '.0.1 see https://ex.org/d/' || CAST(doc_id AS VARCHAR) "
    "|| ' call +1-555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "AS text FROM documents"
)


@register(
    "docs_pii_redaction",
    f"WITH aug AS ({_PII_AUG_SQL}) SELECT doc_id, "
    + ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, (pat, _tok) in text.PII_PATTERNS.items()
    )
    + ", md5("
    + "".join(
        "regexp_replace(" for _ in text.PII_PATTERNS
    )
    + "text"
    + "".join(
        f", '{pat}', '{tok}', 'g')"
        for _name, (pat, tok) in text.PII_PATTERNS.items()
    )
    + ") AS redacted_md5 FROM aug ORDER BY doc_id",
)
def docs_pii_redaction(spark, sf_dir):
    """PII scrubbing for training-data curation (text.with_pii_scrub):
    email/IPv4/phone/URL counts + full redaction, all JVM-side regexp
    (whole-stage codegen, zero shuffle — embarrassingly parallel at
    100 TB). The reference never inspects payloads (opaque bytes,
    api/v1/log.proto:8); this is north-star curation surface."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com at 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 see https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" call +1-555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    scrubbed = text.with_pii_scrub(aug)
    return scrubbed.select(
        "doc_id",
        *[f"n_{name}" for name in text.PII_PATTERNS],
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "events_markov_transitions",
    "SELECT prev_type, event_type AS next_type, count(*) AS n_transitions "
    "FROM (SELECT event_type, lag(event_type) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events) "
    "WHERE prev_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_markov_transitions(spark, sf_dir):
    """Event-sequence mining: first-order transition counts between
    consecutive event types per user (the Markov-chain fit behind
    next-action models). One user-key shuffle for the lag window —
    deterministic order by (ts, event_id) — then a partial-agg shuffle
    on the (prev, next) pair; both keys are low-cardinality-safe."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@register(
    "docs_udtf_ngrams",
    "SELECT doc_id, CAST(pos AS INTEGER) AS pos, gram FROM ("
    "SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), "
    "i -> i - 1)) AS pos, "
    "unnest(list_transform(range(1, len(w) - 1), "
    "i -> array_to_string(w[i:i+2], ' '))) AS gram FROM "
    "(SELECT doc_id, string_split(text, ' ') AS w FROM documents) "
    ") WHERE doc_id < 10 ORDER BY doc_id, pos",
)
def docs_udtf_ngrams(spark, sf_dir):
    """UDTF surface pinned end-to-end: word trigram fan-out through a
    Python UDTF in a SQL LATERAL join (functions/udtf.NGramsUDTF),
    oracle-checked. The docstring there explains why the JVM-side
    ``explode(transform(...))`` twin is the hot-path choice; this
    query exists to keep the table-function plumbing honest."""
    from proglog_spark.functions.udtf import register_ngrams_udtf

    name = register_ngrams_udtf(spark)
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
    d.createOrReplaceTempView("_udtf_docs_src")
    return spark.sql(
        f"SELECT doc_id, pos, gram FROM _udtf_docs_src, "
        f"LATERAL {name}(text, 3) ORDER BY doc_id, pos"
    )


@register(
    "tpch_q11_important_parts",
    "WITH pv AS (SELECT l_partkey, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS value_cents FROM lineitem GROUP BY 1) "
    "SELECT l_partkey, value_cents FROM pv "
    "WHERE value_cents * (SELECT count(*) FROM pv) > "
    "(SELECT CAST(sum(value_cents) AS BIGINT) FROM pv) "
    "ORDER BY value_cents DESC, l_partkey",
)
def tpch_q11_important_parts(spark, sf_dir):
    """Q11 shape (no partsupp fixture — lineitem is the supply fact):
    per-part inventory value filtered against a global scalar
    threshold (above-average value — scale-free, unlike Q11's
    SF-dependent 0.0001/SF fraction). The per-part aggregate is
    computed ONCE and reused for both the group rows and the 1-row
    global sum+count, which re-joins as a broadcast — Spark never
    rescans or reshuffles the fact for the subquery. Money in integer
    cents throughout; the compare is integer cross-multiplication."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    pv = li.groupBy("l_partkey").agg(F.sum(cents).alias("value_cents"))
    total = pv.agg(
        F.sum("value_cents").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        pv.join(F.broadcast(total))
        .where(F.col("value_cents") * F.col("_n") > F.col("_total"))
        .select("l_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "l_partkey")
    )


@register(
    "lineitem_profile",
    "SELECT column_name, n_rows, n_nulls, n_distinct, min_repr, max_repr "
    "FROM ("
    "SELECT 'l_orderkey' AS column_name, count(*) AS n_rows, "
    "count(*) - count(l_orderkey) AS n_nulls, "
    "count(DISTINCT l_orderkey) AS n_distinct, "
    "CAST(min(l_orderkey) AS VARCHAR) AS min_repr, "
    "CAST(max(l_orderkey) AS VARCHAR) AS max_repr FROM lineitem "
    "UNION ALL "
    "SELECT 'l_quantity', count(*), count(*) - count(l_quantity), "
    "count(DISTINCT l_quantity), "
    "CAST(CAST(floor(min(l_quantity) * 1000000) AS BIGINT) AS VARCHAR), "
    "CAST(CAST(floor(max(l_quantity) * 1000000) AS BIGINT) AS VARCHAR) "
    "FROM lineitem "
    "UNION ALL "
    "SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag), "
    "count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag) "
    "FROM lineitem "
    "UNION ALL "
    "SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate), "
    "count(DISTINCT l_shipdate), "
    "strftime(CAST(min(l_shipdate) AS DATE), '%Y-%m-%d'), "
    "strftime(CAST(max(l_shipdate) AS DATE), '%Y-%m-%d') FROM lineitem"
    ") ORDER BY column_name",
)
def lineitem_profile(spark, sf_dir):
    """Data profiling (curation pre-flight): per-column rows / nulls /
    exact distinct / canonical min-max over the fact table, in ONE
    aggregation pass (`operators/profile.py` — Expand-based
    multi-distinct, single shuffle; the DuckDB oracle spells it as
    four UNION'd scans, which is exactly the per-column rescan shape
    the Spark plan avoids). `approx=True` swaps HLL++ in at cluster
    scale."""
    from proglog_spark.operators.profile import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(
        li,
        [
            ("l_orderkey", "int"),
            ("l_quantity", "micros"),
            ("l_returnflag", "str"),
            ("l_shipdate", "date"),
        ],
    )


@register(
    "events_value_moments",
    "WITH m AS (SELECT event_type, count(*) AS n, "
    "sum(CAST(floor(value * 1000000) AS BIGINT)) AS sx, "
    "sum(CAST(floor(value * 1000000) AS BIGINT) * "
    "CAST(floor(value * 1000000) AS BIGINT)) AS sxx, "
    "sum(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS sy, "
    "sum(CAST(floor(value * 1000000) AS BIGINT) * "
    "CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS sxy "
    "FROM events GROUP BY 1) "
    "SELECT event_type, CAST(n AS BIGINT) AS n_events, "
    "CAST(sx // n AS BIGINT) AS mean_micro, "
    "CAST((n * sxx - sx * sx) // (n * n) AS BIGINT) AS pvar_micro2, "
    "CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 "
    "WHEN n * sxy - sx * sy > 0 THEN 1 ELSE 0 END AS INTEGER) AS cov_sign, "
    "CAST(abs(n * sxy - sx * sy) // (n * n) AS BIGINT) AS cov_abs_microhour "
    "FROM m ORDER BY event_type",
)
def events_value_moments(spark, sf_dir):
    """Exact statistical moments in fixed point: per-type mean and
    population variance of `value` (micro units), plus the covariance
    of value with hour-of-day — the two-variable sufficient-statistics
    pattern (n, Σx, Σx², Σy, Σxy) every profiling/drift job runs.

    One partial-agg shuffle carries five integers per group; all
    arithmetic is DECIMAL(38,0) (Spark) vs HUGEINT (DuckDB) — exact,
    so hash-safe where float `var_pop`/`covar_pop` never is. The
    covariance (sign-indefinite) is split into sign + abs before the
    integral division so truncation semantics can't differ between
    engines. Headroom: Σx² ≤ 6.4e24 at sf100 — within DECIMAL(38,0)."""
    e = load_table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 1000000).cast("decimal(38,0)")
    y = F.hour("ts").cast("decimal(38,0)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
    )
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.expr("sx div n").cast("bigint").alias("mean_micro"),
            F.expr("(n * sxx - sx * sx) div (n * n)")
            .cast("bigint")
            .alias("pvar_micro2"),
            F.when(cov_num < 0, -1)
            .when(cov_num > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("cov_sign"),
            F.expr("abs(n * sxy - sx * sy) div (n * n)")
            .cast("bigint")
            .alias("cov_abs_microhour"),
        )
        .orderBy("event_type")
    )


def _fuzzy_block_oracle() -> str:
    """SQL replay of docs_fuzzy_block_match with the
    text.adaptive_block_params ladders as CASE chains over count(*) —
    size-bucket width and exact-prefix length are generated from the
    same module constants the Spark side reads, so the two engines
    cannot drift."""
    from proglog_spark.operators.text import (
        _BLOCK_PREFIX_LADDER,
        _BLOCK_WIDTH_LADDER,
    )

    wl = " ".join(f"WHEN n <= {hi} THEN {w}" for hi, w in _BLOCK_WIDTH_LADDER)
    pl = " ".join(
        f"WHEN n <= {hi} THEN {j}" for j, hi in enumerate(_BLOCK_PREFIX_LADDER)
    )
    return (
        f"WITH ab AS (SELECT CASE {wl} ELSE 1 END AS w, "
        f"CASE {pl} ELSE {len(_BLOCK_PREFIX_LADDER)} END AS j "
        "FROM (SELECT count(*) AS n FROM documents)), "
        "d AS (SELECT doc_id, source, n_chars // w AS sz, "
        "left(text, j) AS pk, left(text, 40) AS p FROM documents, ab) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(levenshtein(a.p, b.p) AS BIGINT) AS prefix_dist "
        "FROM d a JOIN d b ON a.source = b.source AND a.sz = b.sz "
        "AND a.pk = b.pk AND a.doc_id < b.doc_id "
        "WHERE levenshtein(a.p, b.p) <= 12 ORDER BY id_a, id_b"
    )


@register("docs_fuzzy_block_match", _fuzzy_block_oracle())
def docs_fuzzy_block_match(spark, sf_dir):
    """Blocked fuzzy matching — the classic record-linkage shape:
    edit distance is O(len²) per pair and all-pairs is O(n²), so pairs
    are generated only inside (source, size-bucket, prefix) blocks via
    an equi-join (shuffle on the block key), then JVM-side
    ``levenshtein`` on fixed 40-char prefixes filters survivors.
    Blocking keys are CORPUS-ADAPTIVE (text.adaptive_block_params):
    the size-bucket width shrinks with the document count and, past
    the 1-char width floor, the key grows exact-prefix characters —
    the fixed ``div 100`` key this replaces measured 1814× the work
    at 100× (SCALING §11), the same corpus-independent-key quadratic
    adaptive_lsh_bits fixed for the LSH self-joins. The oracle
    replays both ladders as CASE chains over count(*), so the emitted
    pair set hash-matches at every corpus size; residual skewed
    blocks get the salted-join treatment (`operators/skew.py`) or a
    MinHash pre-filter (`docs_minhash_lsh`) before the exact
    distance."""
    from proglog_spark.operators.text import adaptive_block_params

    docs = load_table(spark, sf_dir, "documents")
    width, plen = adaptive_block_params(docs.count())
    d = docs.select(
        "doc_id",
        "source",
        F.expr(f"n_chars div {width}").alias("sz"),
        F.substring("text", 1, plen).alias("pk"),
        F.substring("text", 1, 40).alias("p"),
    )
    # parallelism must be pinned BEFORE the join: when AQE broadcasts
    # the small side (the common case at fixture scale) the join
    # inherits the probe side's partitioning — and a single-file scan
    # is ONE partition, serializing ~115k levenshtein DPs inside one
    # task (measured 4-7 s vs <1 s spread). Repartitioning 5k tiny
    # rows costs nothing; at 100 TB the join shuffles on the block key
    # and this becomes a no-op guard.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = d.select(*[F.col(c).alias(f"a_{c}") for c in d.columns]).repartition(
        n_part
    )
    b = d.select(*[F.col(c).alias(f"b_{c}") for c in d.columns])
    pairs = a.join(
        b,
        (F.col("a_source") == F.col("b_source"))
        & (F.col("a_sz") == F.col("b_sz"))
        & (F.col("a_pk") == F.col("b_pk"))
        & (F.col("a_doc_id") < F.col("b_doc_id")),
    )
    return (
        pairs
        .select(
            F.col("a_doc_id").alias("id_a"),
            F.col("b_doc_id").alias("id_b"),
            # thresholded levenshtein (banded DP): per-pair cost drops
            # from O(len²) to O(k·len), and pairs past the threshold
            # return -1 — the surviving set and its distances are
            # identical to the unbounded form, so the oracle is
            # unchanged. This is the per-pair half of the scale story;
            # block-size growth is the user's blocking-key dial (see
            # docstring).
            F.levenshtein("a_p", "b_p", threshold=12).cast("bigint").alias("prefix_dist"),
        )
        .where((F.col("prefix_dist") >= 0) & (F.col("prefix_dist") <= 12))
        .orderBy("id_a", "id_b")
    )


@register(
    "events_minute_gapfill",
    "WITH ev AS (SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) AS m, event_type "
    "FROM events WHERE ts >= TIMESTAMP '2024-01-15' "
    "AND ts < TIMESTAMP '2024-01-16'), "
    "bounds AS (SELECT min(m) AS lo, max(m) AS hi FROM ev), "
    "spine AS (SELECT unnest(generate_series(lo, hi)) AS m FROM bounds), "
    "types AS (SELECT DISTINCT event_type FROM ev), "
    "cnt AS (SELECT m, event_type, count(*) AS n FROM ev GROUP BY 1, 2) "
    "SELECT t.event_type, s.m AS bucket, "
    "COALESCE(c.n, 0) AS n_events, "
    "CAST(sum(COALESCE(c.n, 0)) OVER "
    "(PARTITION BY t.event_type ORDER BY s.m) AS BIGINT) AS cum_events "
    "FROM spine s CROSS JOIN types t "
    "LEFT JOIN cnt c ON c.m = s.m AND c.event_type = t.event_type "
    "ORDER BY t.event_type, s.m",
)
def events_minute_gapfill(spark, sf_dir):
    """Time-series regularization (`operators/timeseries.gap_fill`):
    dense per-type minute spine over one day, zero-filled counts +
    running totals. The raw events are touched once (partial-agg
    shuffle); the spine is sequence()+explode from the 1-row bounds —
    synthetic rows are born distributed, never collected."""
    from proglog_spark.operators.timeseries import gap_fill

    e = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    )
    return gap_fill(e, "ts", ["event_type"], 60)


@register(
    "emb_label_centroids",
    "SELECT label, CAST(ord - 1 AS INTEGER) AS dim, "
    "count(*) AS n_vecs, "
    "CAST(sum(CAST(floor(CAST(embedding[ord] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) "
    "AS sum_micro FROM ("
    "SELECT label, embedding, "
    "unnest(generate_series(1, len(embedding))) AS ord FROM embeddings"
    ") GROUP BY 1, 2 ORDER BY 1, 2",
)
def emb_label_centroids(spark, sf_dir):
    """Per-label centroid sufficient statistics: element-wise vector
    sums in exact micro fixed point (float32 → double widening is
    exact, so both engines floor identical doubles). posexplode fans
    each vector into (dim, value) — a ×64 narrow expansion feeding one
    partial-agg shuffle keyed (label, dim); output is |labels|×d rows.
    At cluster scale the same statistic can ride a grouped-agg Arrow
    UDF summing numpy blocks (no explode), cf. `operators/linalg.py`
    — the explode form stays whole-stage-codegen and needs no Python
    workers."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.floor(F.col("val").cast("double") * 1000000).cast("bigint")
            ).alias("sum_micro"),
        )
        .orderBy("label", "dim")
    )


@register(
    "docs_pack_sequences",
    "WITH t AS (SELECT doc_id, CAST(length(text) - "
    "length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok FROM documents), "
    "c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id) AS cum "
    "FROM t) "
    "SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS bin_id, "
    "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens, "
    "min(doc_id) AS first_doc, max(doc_id) AS last_doc "
    "FROM c GROUP BY 1 ORDER BY 1",
)
def docs_pack_sequences(spark, sf_dir):
    """Sequence packing (`operators/packing.py`): walk the corpus in
    doc_id order, fill 2048-token bins, documents straddle boundaries
    (concatenate-and-chunk dataloader model). The global running sum
    never creates a single-partition window: range-partition + local
    sort, per-partition sums to the driver (P longs), Arrow cumsum
    pass adds the offsets. The oracle spells the same thing as the
    naive `sum() OVER (ORDER BY doc_id)`."""
    from proglog_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr("length(text) - length(replace(text, ' ', '')) + 1")
        .cast("long")
        .alias("n_tok"),
    )
    packed = pack_sequences(t, ["doc_id"], "n_tok", 2048)
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


def _alpha_tokens(d: DataFrame, with_pos: bool = False) -> DataFrame:
    """Alpha-split lowercase token stream shared by the learned-vocab
    queries: (doc_id[, pos], term)."""
    if with_pos:
        t = d.select(
            "doc_id", F.posexplode(F.split("text", "[^A-Za-z]+")).alias("pos", "t")
        )
    else:
        t = d.select("doc_id", F.explode(F.split("text", "[^A-Za-z]+")).alias("t"))
    cols = ["doc_id", "pos"] if with_pos else ["doc_id"]
    return t.where(F.col("t") != "").select(*cols, F.lower("t").alias("term"))


def _vocab_top1000(toks: DataFrame) -> DataFrame:
    """Top-1000 corpus vocabulary with dense ids by (count desc, term):
    TakeOrdered (no global vocabulary sort — driver-scale by
    construction), id assignment a window over the already-LIMITed
    1000 rows. One definition shared by docs_tokenize_ids and
    docs_rarity_filter so the two queries' vocabularies cannot drift
    (same tie-break, same OOV boundary)."""
    vc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    top = vc.orderBy(F.col("c").desc(), "term").limit(1000)
    wv = Window.orderBy(F.col("c").desc(), "term")
    return top.select("term", (F.row_number().over(wv) - 1).cast("long").alias("id"))


@register(
    "docs_tokenize_ids",
    "WITH tok AS (SELECT doc_id, i AS pos, lower(arr[i]) AS term FROM "
    "(SELECT doc_id, regexp_split_to_array(text, '[^A-Za-z]+') AS arr "
    "FROM documents), LATERAL (SELECT unnest(generate_series(1, len(arr))) "
    "AS i) WHERE arr[i] <> ''), "
    "vc AS (SELECT term, count(*) AS c FROM tok GROUP BY 1), "
    "vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY c DESC, term) "
    "- 1 AS BIGINT) AS id FROM vc ORDER BY c DESC, term LIMIT 1000), "
    "j AS (SELECT t.doc_id, t.pos, v.id FROM tok t LEFT JOIN vocab v "
    "USING (term)), "
    "base AS (SELECT doc_id, count(*) AS n_tokens, "
    "count(*) - count(id) AS n_oov FROM j GROUP BY 1), "
    "pref AS (SELECT doc_id, list(id ORDER BY pos) AS ids FROM "
    "(SELECT doc_id, pos, id, row_number() OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS rn FROM j WHERE id IS NOT NULL) "
    "WHERE rn <= 8 GROUP BY 1) "
    "SELECT b.doc_id, b.n_tokens, b.n_oov, "
    "COALESCE(array_to_string(p.ids, ','), '') AS ids_prefix "
    "FROM base b LEFT JOIN pref p USING (doc_id) ORDER BY b.doc_id",
)
def docs_tokenize_ids(spark, sf_dir):
    """Tokenization with a learned vocabulary — the map-text-to-ids
    step of every pretraining pipeline: build the top-1000 vocab by
    (frequency DESC, term) from the corpus itself (TakeOrdered — no
    global vocabulary sort; id assignment is a window over the
    already-LIMITed 1000 rows, driver-scale by construction),
    broadcast it, and stream every token through the broadcast left
    join. Per doc: token count, OOV count, and the ids of the first 8
    in-vocab tokens in document order, comma-joined to a scalar —
    final columns must be driver-canonicalizable (SURVEY §2.1: no
    array/map/struct final columns; ids are BIGINTs so ',' cannot
    collide), and the join is order-sensitive so the hash still pins
    token order."""
    d = load_table(spark, sf_dir, "documents")
    toks = _alpha_tokens(d, with_pos=True)
    vocab = _vocab_top1000(toks)
    j = toks.join(F.broadcast(vocab), "term", "left")
    base = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.count(F.lit(1)) - F.count("id")).alias("n_oov"),
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    pref = (
        j.where(F.col("id").isNotNull())
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= 8)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "id"))).alias("ps"))
        .select(
            "doc_id",
            F.expr("transform(ps, x -> CAST(x.id AS STRING))").alias("ids"),
        )
    )
    return (
        base.join(pref, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.coalesce(F.array_join("ids", ","), F.lit("")).alias("ids_prefix"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_tfidf_top_terms",
    "WITH tok AS (SELECT doc_id, lower(t) AS term FROM "
    "(SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS t "
    "FROM documents) WHERE t <> ''), "
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), "
    "idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
    "s AS (SELECT doc_id, term, "
    "CAST(tf * 1000000000000 // df AS BIGINT) AS score_pico, "
    "row_number() OVER (PARTITION BY doc_id "
    "ORDER BY tf * 1000000000000 // df DESC, term) AS rn "
    "FROM tf JOIN idf USING (term)) "
    "SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, score_pico "
    "FROM s WHERE rn <= 5 ORDER BY doc_id, rank",
)
def docs_tfidf_top_terms(spark, sf_dir):
    """Rarity-weighted term importance (tf-idf family): per-doc top-5
    terms scored ``tf/df`` in pico fixed point — monotone in tf×idf
    for any decreasing idf, and integer-exact where ``ln(N/df)``
    could never hash-match across engines. One shuffle builds tf
    (doc, term), a broadcast of the aggregated df table scores every
    term in place, and the per-doc top-5 is a bounded window. At
    cluster scale the df table may outgrow a broadcast — it falls
    back to an equi-join on term (AQE decides)."""
    from proglog_spark.sources.tables import fan_out

    # single-file fixture → spread the tokenize+explode across cores
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select("doc_id", F.explode(F.split("text", "[^A-Za-z]+")).alias("t"))
        .where(F.col("t") != "")
        .select("doc_id", F.lower("t").alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.expr("tf * 1000000000000 div df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), "term")
    return (
        tf.join(idf, "term")
        .select(
            "doc_id",
            F.row_number().over(w).cast("long").alias("rank"),
            "term",
            score.cast("long").alias("score_pico"),
        )
        .where(F.col("rank") <= 5)
        .orderBy("doc_id", "rank")
    )


_MIXTURE_RATES = {"src0": 800000, "src1": 400000, "src2": 200000}
_MIXTURE_DEFAULT = 100000
_MIXTURE_RATE_SQL = (
    "CASE source WHEN 'src0' THEN 800000 WHEN 'src1' THEN 400000 "
    "WHEN 'src2' THEN 200000 ELSE 100000 END"
)


@register(
    "docs_weighted_mixture",
    "SELECT source, count(*) AS n_docs, "
    "count(CASE WHEN h < r THEN 1 END) AS n_kept, "
    "CAST(COALESCE(sum(CASE WHEN h < r THEN n_chars END), 0) AS BIGINT) "
    "AS kept_chars FROM ("
    "SELECT source, n_chars, "
    "CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 1000000 AS h, "
    f"{_MIXTURE_RATE_SQL} AS r FROM documents) "
    "GROUP BY 1 ORDER BY 1",
)
def docs_weighted_mixture(spark, sf_dir):
    """Mixture re-weighting audit (`sampling.mixture_rates` /
    `mixture_sample`): each source gets a declared keep-rate; a doc
    survives iff its key hash lands under its source's rate. The whole
    recipe is one conditional-agg scan (no shuffle of documents, no
    RNG); because membership is nested in the hash order, raising a
    source's weight only ADDS documents — incremental re-mixes of a
    100 TB corpus reprocess nothing."""
    from proglog_spark.operators.sampling import hash_bucket, mixture_rates

    d = load_table(spark, sf_dir, "documents")
    r = mixture_rates(F.col("source"), _MIXTURE_RATES, _MIXTURE_DEFAULT)
    kept = hash_bucket(F.col("doc_id"), "mix") < r
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "docs_curation_pipeline",
    f"WITH {_CONTAM_GRAMS_SQL}, "
    "keep1 AS (SELECT d.* FROM documents d JOIN "
    "(SELECT md5(text) AS h, min(doc_id) AS k FROM documents GROUP BY 1) kk "
    "ON md5(d.text) = kk.h AND d.doc_id = kk.k), "
    "q AS (SELECT doc_id FROM keep1 WHERE "
    "len(string_split(text, ' ')) >= 20 AND "
    "floor(1000000.0 * len(list_distinct(string_split(text, ' '))) "
    "/ len(string_split(text, ' '))) >= 300000), "
    "bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0), "
    "contaminated AS (SELECT DISTINCT dg.doc_id FROM "
    "(SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0) dg "
    "JOIN bg USING (gram)), "
    "final AS (SELECT k.doc_id, k.source, k.n_chars FROM keep1 k "
    "JOIN q USING (doc_id) WHERE k.doc_id % 97 <> 0 "
    "AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)), "
    "lab AS (SELECT source, n_chars, CASE WHEN h < 800000 THEN 'train' "
    "WHEN h < 900000 THEN 'valid' ELSE 'test' END AS split FROM "
    "(SELECT *, CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), "
    "1, 8) AS BIGINT) % 1000000 AS h FROM final)) "
    "SELECT split, source, count(*) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM lab GROUP BY 1, 2 ORDER BY 1, 2",
)
def docs_curation_pipeline(spark, sf_dir):
    """The flagship end-to-end curation composition — what a user of
    this engine actually runs over 100 TB, as ONE declarative plan:

      exact dedup (keep min-id per content hash, one hash shuffle)
      → quality gate (stopword/repetition metrics, pure projection)
      → benchmark decontamination (5-gram overlap vs the held-out
        doc_id%97 set: tiny gram set DISTINCT-ed and broadcast, corpus
        anti-joined — no corpus shuffle)
      → deterministic train/valid/test split (key-hash projection)
      → per-(split, source) accounting.

    Every stage is a previously-declared operator (`operators/dedup`,
    `operators/text.with_quality`, the contamination shape,
    `sampling.train_split`) composed in-plan: Catalyst sees one tree,
    so the text column is scanned once and the stages pipeline without
    materialization."""
    from proglog_spark.operators.text import with_quality
    from proglog_spark.sources.tables import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))

    keepers = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    keep1 = d.join(keepers.select("doc_id"), "doc_id", "left_semi")

    q = (
        with_quality(keep1)
        .where((F.col("n_tokens") >= 20) & (F.col("distinct_micro") >= 300000))
        .select("doc_id")
    )

    g = _doc_gram_sets(spark, sf_dir)
    is_bench = F.col("doc_id") % 97 == 0
    bench_grams = (
        g.where(is_bench).select(F.explode("gs").alias("gram")).distinct()
    )
    contaminated = (
        g.where(~is_bench)
        .select("doc_id", F.explode("gs").alias("gram"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )

    final = (
        keep1.join(q, "doc_id", "left_semi")
        .where(~is_bench)
        .join(contaminated, "doc_id", "left_anti")
    )
    labeled = sampling.train_split(final, "doc_id")
    return (
        labeled.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("split", "source")
    )


@register(
    "docs_incremental_dedup",
    "WITH cut AS (SELECT max(doc_id) * 8 // 10 AS c "
    "FROM documents), "
    "d AS (SELECT doc_id, "
    "md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h "
    "FROM documents), "
    "old AS (SELECT h, min(doc_id) AS keeper FROM d, cut "
    "WHERE doc_id < c GROUP BY 1), "
    "new AS (SELECT doc_id, h FROM d, cut WHERE doc_id >= c) "
    "SELECT n.doc_id AS new_doc, o.keeper AS dup_of "
    "FROM new n JOIN old o USING (h) ORDER BY new_doc, dup_of",
)
def docs_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup — the steady-state production shape:
    a NEW batch (here: the top 20% of doc_ids) checked against the
    EXISTING corpus without re-deduping the corpus. The match key is a
    prefix fingerprint (md5 of the first 8 words — catches re-ingested
    documents with trailing edits, which exact content hashing misses;
    the fixture corpus has zero byte-exact duplicates below sf0.1 but
    shared openings at every scale). Both sides reduce to
    (fingerprint, id) before the join, so the shuffle carries hashes,
    not documents; at 100 TB the old side is a pre-built fingerprint
    index (bucketed by hash, `sources/bucketed.py`) and each ingest
    batch joins against it with no corpus rescan. Reference motif: the
    replicator's rejoin duplication
    (`internal/log/replicator.go:43-87`) is exactly the bug this
    operator catches."""
    d = load_table(spark, sf_dir, "documents")
    # integer 80% cut: float /10 would TRUNCATE in Spark's cast but
    # ROUND in DuckDB's CAST(double AS BIGINT) — divergent whenever
    # max(doc_id) mod 5 is 1 or 2; `div` is exact in both engines
    cut = d.agg(F.expr("max(doc_id) * 8 div 10").alias("c"))
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    hashed = d.join(F.broadcast(cut)).select(
        "doc_id", fp.alias("h"), "c"
    )
    old = (
        hashed.where(F.col("doc_id") < F.col("c"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    new = hashed.where(F.col("doc_id") >= F.col("c")).select(
        F.col("doc_id").alias("new_doc"), "h"
    )
    return (
        new.join(old, "h")
        .select("new_doc", "dup_of")
        .orderBy("new_doc", "dup_of")
    )


# shared by the batch RANGE-frame query and its stateful streaming
# twin: the flagged-event set must be identical
_TRAILING_ANOMALY_ORACLE = (
    "WITH e AS (SELECT event_id, event_type, "
    "CAST(floor(value * 1000000) AS BIGINT) AS vm, "
    "CAST(floor(epoch(ts) * 1000000) AS BIGINT) AS tm FROM events), "
    "w AS (SELECT event_id, event_type, vm, "
    "count(*) OVER win AS n, sum(vm) OVER win AS s FROM e WINDOW win AS "
    "(PARTITION BY event_type ORDER BY tm "
    "RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)) "
    "SELECT event_id, event_type, vm AS value_micro, "
    "CAST(n AS BIGINT) AS trail_n, CAST(s AS BIGINT) AS trail_sum_micro "
    "FROM w WHERE vm * n > 3 * s AND n >= 3 ORDER BY event_id"
)


@register("events_trailing_anomaly", _TRAILING_ANOMALY_ORACLE)
def events_trailing_anomaly(spark, sf_dir):
    """Trailing-window anomaly detection, integer-exact: flag events
    whose value exceeds 3× the trailing-6-hour mean for their type —
    as the cross-multiplication ``value·n > 3·Σ`` so no float division
    ever enters the comparison (a z-score variant would need stddev —
    floats — and could never hash-match). One shuffle on event_type;
    the RANGE frame is value-based on epoch micros, the same frame
    machinery as `events_trailing_hour_count`. At 100 TB the
    per-type partitions are the skew risk — salt the hot types and
    merge flags, or pre-aggregate to minute buckets first."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000).cast("long").alias("vm"),
        F.unix_micros("ts").alias("tm"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("tm")
        .rangeBetween(-21600000000, 0)
    )
    w = e.select(
        "event_id",
        "event_type",
        "vm",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("vm").over(win).alias("s"),
    )
    return (
        w.where((F.col("vm") * F.col("n") > 3 * F.col("s")) & (F.col("n") >= 3))
        .select(
            "event_id",
            "event_type",
            F.col("vm").alias("value_micro"),
            F.col("n").cast("long").alias("trail_n"),
            F.col("s").cast("long").alias("trail_sum_micro"),
        )
        .orderBy("event_id")
    )


@register("events_trailing_anomaly_streamed", _TRAILING_ANOMALY_ORACLE)
def events_trailing_anomaly_streamed(spark, sf_dir):
    """The trailing-mean anomaly monitor through the REAL stateful
    streaming engine (`streaming/anomaly.py`: per-type ring of
    in-window pairs merged with each micro-batch via two binary
    searches): the fixture streams as two CHRONOLOGICAL micro-batches
    split at the median timestamp — the second batch's early windows
    must reach back into first-batch ring state — and the flagged set
    must hash-match the SAME batch RANGE-frame oracle. Flags emit
    immediately in append mode (the monitor alerts as events arrive —
    no watermark sealing, so no sentinels), which is the operational
    difference from the sealed-emission engines; the seventh
    streamed-inside-the-gate entry."""
    from proglog_spark.streaming.anomaly import streaming_trailing_anomaly

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    mid = (
        e.agg(
            F.timestamp_micros(
                (
                    (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2
                ).cast("long")
            ).alias("m")
        )
        .collect()[0]
        .m
    )
    with _StreamGate(spark, sf_dir) as gate:
        feed = gate.path("feed")
        e.where(F.col("ts") <= F.lit(mid)).write.mode("append").parquet(feed)
        flags = streaming_trailing_anomaly(spark.readStream.schema(e.schema).parquet(feed))
        out = gate.run(
            gate.memory(flags, "anomaly_streamed").start,
            lambda: e.where(F.col("ts") > F.lit(mid)).write.mode("append").parquet(feed),
        )
    return out.select(
        "event_id", "event_type", "value_micro", "trail_n", "trail_sum_micro"
    ).orderBy("event_id")


@register(
    "events_rolling_wau",
    "WITH p AS (SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) "
    "AS day, user_id FROM events), "
    "d AS (SELECT day, count(*) AS dau FROM p GROUP BY 1), "
    "x AS (SELECT DISTINCT day + o AS day, user_id FROM p, "
    "(SELECT unnest(generate_series(0, 6)) AS o)), "
    "bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM p) "
    "SELECT x.day, min(d.dau) AS dau, count(*) AS wau "
    "FROM x JOIN d ON x.day = d.day, bounds "
    "WHERE x.day BETWEEN lo AND hi GROUP BY 1 ORDER BY 1",
)
def events_rolling_wau(spark, sf_dir):
    """Rolling 7-day distinct users per day (DAU + trailing WAU) — the
    canonical sliding-window DISTINCT, which cannot partial-aggregate
    (a user active twice in the window must count once). Spark-first
    exact formulation: dedup to (user, day) pairs FIRST (the only
    shuffle that sees event volume), then each pair contributes to its
    next 7 days via a narrow ``explode(sequence(0,6))``, dedup again
    at (day, user) — ×7 of the already-tiny pair table — and count.
    No window function, no per-day rescans; at extreme scale the
    second dedup swaps for an HLL sketch union per day (the
    `events_approx_distinct` pattern)."""
    e = load_table(spark, sf_dir, "events")
    p = e.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"), "user_id"
    ).distinct()
    d = p.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    x = (
        p.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"), "day", "user_id"
        )
        .select((F.col("day") + F.col("o")).alias("day"), "user_id")
        .distinct()
    )
    bounds = p.agg(F.min("day").alias("_lo"), F.max("day").alias("_hi"))
    return (
        x.join(d, "day")
        .join(F.broadcast(bounds))
        .where(F.col("day").between(F.col("_lo"), F.col("_hi")))
        .groupBy("day")
        .agg(F.min("dau").alias("dau"), F.count(F.lit(1)).alias("wau"))
        .orderBy("day")
    )


@register(
    "docs_length_quantiles_sketch",
    "WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) "
    "AS rn, count(*) OVER () AS n FROM documents), "
    "ex AS (SELECT q, CAST(min(n_chars) AS BIGINT) AS exact_value FROM ("
    "SELECT 50 AS q, n_chars FROM r WHERE rn = CAST(ceil(0.50 * n) AS BIGINT) "
    "UNION ALL SELECT 90, n_chars FROM r WHERE rn = CAST(ceil(0.90 * n) AS BIGINT) "
    "UNION ALL SELECT 99, n_chars FROM r WHERE rn = CAST(ceil(0.99 * n) AS BIGINT)"
    ") GROUP BY q) "
    "SELECT q, exact_value, true AS sketch_within_5pct FROM ex ORDER BY q",
)
def docs_length_quantiles_sketch(spark, sf_dir):
    """Quantiles the way a 100 TB job computes them: the GK/approx
    sketch (`percentile_approx`, mergeable partial aggregation — one
    pass, bounded memory, no global sort) asserted INSIDE the gate
    against the exact nearest-rank answer: the output carries the
    exact value plus a boolean that the sketch landed within 5% of
    it, and the oracle states the boolean as a literal — a drifting
    sketch hash-mismatches. accuracy=10000 ⇒ rank error ≤ 0.01%, so
    the 5% VALUE bound holds with huge margin on any non-degenerate
    distribution. Exact twin: `docs_length_quantiles` (both ride the
    scalable two-phase global rank, no single-partition window)."""
    d = load_table(spark, sf_dir, "documents")
    exact = _exact_length_quantiles(spark, sf_dir, (50, 90, 99)).select(
        "q", F.col("n_chars").alias("exact_value")
    )
    sketch = d.agg(
        F.percentile_approx(
            "n_chars", [0.50, 0.90, 0.99], 10000
        ).alias("a")
    ).select(
        F.posexplode("a").alias("i", "approx_value")
    ).select(
        F.element_at(F.array(F.lit(50), F.lit(90), F.lit(99)), F.col("i") + 1)
        .cast("int")
        .alias("q"),
        "approx_value",
    )
    return (
        exact.join(sketch, "q")
        .select(
            "q",
            "exact_value",
            (
                F.abs(F.col("approx_value") - F.col("exact_value"))
                <= 0.05 * F.col("exact_value")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("q")
    )


@register(
    "orders_bucket_ranks",
    "WITH b AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month, "
    "CAST(floor(o_totalprice / 10000) AS BIGINT) AS bucket, "
    "count(*) AS n_orders FROM orders GROUP BY 1, 2) "
    "SELECT month, bucket, n_orders, "
    "CAST(rank() OVER w AS BIGINT) AS rnk, "
    "CAST(dense_rank() OVER w AS BIGINT) AS drnk, "
    "nth_value(bucket, 2) OVER w AS second_bucket "
    "FROM b WINDOW w AS (PARTITION BY month ORDER BY n_orders DESC, bucket) "
    "ORDER BY month, rnk, bucket",
)
def orders_bucket_ranks(spark, sf_dir):
    """Ranking-function surface: rank vs dense_rank (count ties across
    price buckets make them diverge) plus nth_value with the standard
    RANGE-to-current-row frame, over a pre-aggregated bucket table —
    the window runs on |months|×|buckets| rows, never on raw orders
    (aggregate-then-rank, same discipline as
    `events_user_value_percentiles`)."""
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
        F.floor(F.col("o_totalprice") / 10000).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy("month").orderBy(F.col("n_orders").desc(), "bucket")
    return (
        b.select(
            "month",
            "bucket",
            "n_orders",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.nth_value("bucket", 2).over(w).alias("second_bucket"),
        )
        .orderBy("month", "rnk", "bucket")
    )


@register(
    "orders_calendar_profile",
    "SELECT CAST((CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) + 4) % 7 "
    "AS BIGINT) AS dow, "
    "CAST((EXTRACT(month FROM o_orderdate) - 1) // 3 + 1 AS BIGINT) AS quarter, "
    "count(*) AS n_orders, "
    "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "AS revenue_cents FROM orders GROUP BY 1, 2 ORDER BY 1, 2",
)
def orders_calendar_profile(spark, sf_dir):
    """Calendar features without calendar functions: day-of-week as
    pure epoch arithmetic ``(epoch_days + 4) % 7`` — 1970-01-01 was a
    Thursday, so the +4 shift yields 0=Sunday..6=Saturday —
    engine-independent where the built-in DOW functions disagree on
    numbering (Spark dayofweek is 1=Sunday, DuckDB dayofweek is
    0=Sunday); quarter from the month extract, which both engines
    agree on. The classic cross-engine calendar hazards, resolved by
    arithmetic instead of locale-sensitive formatting."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            (
                (
                    F.expr(
                        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
                        "div 86400000000"
                    )
                    + 4
                )
                % 7
            )
            .cast("long")
            .alias("dow"),
            F.expr("(month(o_orderdate) - 1) div 3 + 1")
            .cast("long")
            .alias("quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("dow", "quarter")
    )


@register(
    "events_nullsafe_match",
    "WITH a AS (SELECT nullif(event_type, 'error') AS t, count(*) AS n "
    "FROM events GROUP BY 1) "
    "SELECT COALESCE(x.t, '<null>') AS t_repr, x.n AS n_x, y.n AS n_y "
    "FROM a x JOIN a y ON x.t IS NOT DISTINCT FROM y.t "
    "ORDER BY t_repr",
)
def events_nullsafe_match(spark, sf_dir):
    """Three-valued-logic surface: a NULL-keyed group must match
    itself under null-safe equality (Spark ``<=>`` / DuckDB ``IS NOT
    DISTINCT FROM``) where ordinary ``=`` silently drops it — the
    difference between a join that loses the unknown-key bucket and
    one that reconciles it. Null-safe equi-joins hash NULL as an
    ordinary key, so the plan stays a hash join (no null-filter
    rewrite needed)."""
    e = load_table(spark, sf_dir, "events")
    a = e.groupBy(
        F.nullif("event_type", F.lit("error")).alias("t")
    ).agg(F.count(F.lit(1)).alias("n"))
    x = a.select(F.col("t").alias("x_t"), F.col("n").alias("n_x"))
    y = a.select(F.col("t").alias("y_t"), F.col("n").alias("n_y"))
    return (
        x.join(y, F.col("x_t").eqNullSafe(F.col("y_t")))
        .select(
            F.coalesce(F.col("x_t"), F.lit("<null>")).alias("t_repr"),
            "n_x",
            "n_y",
        )
        .orderBy("t_repr")
    )


_GSETS_SQL = (
    "SELECT coalesce(event_type, '__ALL__') AS event_type, "
    "coalesce(d, -1) AS day, "
    "CAST(grouping(event_type) * 2 + grouping(d) AS BIGINT) AS gid, "
    "count(*) AS n_events "
    "FROM (SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d "
    "FROM {table}) "
    "GROUP BY GROUPING SETS ((event_type), (d), ()) "
    "ORDER BY gid, event_type, day"
)


@register("events_grouping_sets", _GSETS_SQL.format(table="events"))
def events_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the non-hierarchical sibling of ROLLUP
    and CUBE (both declared): three disjoint aggregations (per-type,
    per-day, grand total) in ONE Expand pass, disambiguated by
    ``grouping()`` bits rather than sentinel collisions. Identical SQL
    text through spark.sql and DuckDB, exercising the SQL entry path.
    Spark's epoch() differs from DuckDB's, so the view pre-computes
    the day bucket with the engine-portable micros arithmetic."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    )
    e.createOrReplaceTempView("events_gsets_src")
    return spark.sql(
        "SELECT coalesce(event_type, '__ALL__') AS event_type, "
        "coalesce(d, -1) AS day, "
        "CAST(grouping(event_type) * 2 + grouping(d) AS BIGINT) AS gid, "
        "count(*) AS n_events "
        "FROM events_gsets_src "
        "GROUP BY GROUPING SETS ((event_type), (d), ()) "
        "ORDER BY gid, event_type, day"
    )


_RCTE_SQL = (
    "WITH RECURSIVE anc(doc_id, anc_id, depth) AS ("
    "SELECT doc_id, doc_id, 0 FROM {table} WHERE doc_id < 64 "
    "UNION ALL "
    "SELECT a.doc_id, CAST(floor((a.anc_id - 1) / 2.0) AS BIGINT), "
    "a.depth + 1 FROM anc a WHERE a.anc_id > 0) "
    "SELECT doc_id, CAST(max(depth) AS BIGINT) AS depth_to_root, "
    "count(*) AS chain_len FROM anc GROUP BY 1 ORDER BY 1"
)


@register("docs_recursive_ancestry", _RCTE_SQL.format(table="documents"))
def docs_recursive_ancestry(spark, sf_dir):
    """Recursive CTE surface (WITH RECURSIVE — new in Spark 4.x, so
    the one iterative construct both engines now express natively):
    walk each document's ancestor chain in the implicit binary tree
    ``parent(n) = (n-1) div 2`` to the root, reporting depth and chain
    length. Identical SQL text through spark.sql and DuckDB; the
    parent step is spelled ``floor((n-1)/2.0)`` because integer-div
    syntax differs between the engines (div vs //) while floor-of-
    double is exact on this domain. Each recursion step is a Spark
    job over the frontier — fine for hierarchy walks (depth ≈ log n),
    the wrong tool for bulk iteration (the large-star/small-star
    contraction in `operators/dedup.py` is the scale path there)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "rcte_docs_src"
    )
    return spark.sql(_RCTE_SQL.format(table="rcte_docs_src"))


@register(
    "events_variant_props",
    "SELECT event_type, count(*) AS n_events, "
    "CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) "
    "AS sum_k, "
    "CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) "
    "AS min_k, "
    "CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) "
    "AS max_k FROM events GROUP BY 1 ORDER BY 1",
)
def events_variant_props(spark, sf_dir):
    """Semi-structured surface via Spark 4's VARIANT type: ``props``
    parses ONCE into the shredded binary variant encoding and typed
    paths extract with ``variant_get`` — at 100 TB this is the
    difference between one parse + columnar access and re-running a
    string JSON parser per predicate per row (the trap the
    `log_json_roundtrip` tuning already hit with from_json
    re-evaluation). The DuckDB oracle reads the same paths through its
    native JSON type. Sibling: `events_json_sum` (get_json_object —
    the string path, kept for engines without VARIANT)."""
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).cast("long").alias("sum_k"),
            F.min(k).cast("long").alias("min_k"),
            F.max(k).cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Scale-path wave: bloom-pruned joins, sketch heavy hitters, accuracy
# gates for the probabilistic dedup path, watermark-sizing audit,
# per-group exact quantiles
# ---------------------------------------------------------------------------


@register(
    "tpch_bloom_filter_join",
    "SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) "
    "AS order_month, count(*) AS n_lines, "
    "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_scaled "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderpriority = '1-URGENT' "
    "GROUP BY 1 ORDER BY 1",
)
def tpch_bloom_filter_join(spark, sf_dir):
    """Runtime-filter join: urgent orders (1/5 of the table) build a
    Bloom bitmap (one ≤2 MB partial-agg shuffle); lineitem is pruned
    by a codegen bit-test BEFORE its join Exchange, so the fact
    shuffle carries ~20% of the rows + ~1% false positives instead of
    everything. The exact join then removes the false positives —
    result is row-identical to the plain join (the oracle IS the plain
    join). At 100 TB this is the difference between shuffling 100 TB
    and shuffling the matching fraction; same pattern as Catalyst's
    InjectRuntimeFilter, available here on any composed join."""
    from proglog_spark.operators import bloomjoin

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    # sizing needs only an UPPER bound on build keys; the unfiltered
    # row count is parquet-footer metadata (no scan), and oversizing
    # the bitmap only lowers the false-positive rate
    # fpp vs the UPPER bound; against the actual (5x smaller) build
    # set the realized false-positive rate is far lower still
    j = bloomjoin.bloom_filtered_join(
        li, o, on="l_orderkey", expected_items=orders.count(), fpp=0.05
    )
    cents = lambda c_: F.floor(F.col(c_) * 100).cast("long")  # noqa: E731
    return (
        j.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "revenue_scaled"
            ),
        )
        .orderBy("order_month")
    )


@register(
    "docs_heavy_terms_sketch",
    "WITH toks AS (SELECT lower(t) AS term FROM (SELECT "
    "unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS t FROM documents) "
    "WHERE t <> ''), "
    "tot AS (SELECT count(*) AS n FROM toks), "
    "exact AS (SELECT term, count(*) AS n_occurrences FROM toks GROUP BY 1) "
    "SELECT term, n_occurrences, TRUE AS in_sketch, TRUE AS est_in_bounds "
    "FROM exact, tot WHERE n_occurrences * 256 >= 2 * n "
    "ORDER BY term",
)
def docs_heavy_terms_sketch(spark, sf_dir):
    """Approximate heavy hitters via merged Misra-Gries summaries
    (k=255): per-partition O(k) state, shuffle carries ≤ k·partitions
    candidate rows — never the key space. The sketch's one-sided
    guarantee (true - N/256 ≤ est ≤ true, every key above N/256
    present) is ASSERTED inside the hash-checked result: for each
    exact heavy term (count ≥ 2N/256) the gate checks sketch
    membership and the error bound; the oracle emits literal TRUE.
    Exact twin: `docs_top_terms`. Scale story: at 100 TB with n-gram
    keys the exact groupBy shuffles billions of distinct keys; this
    shuffles ~256 rows per partition."""
    from proglog_spark.operators import sketch

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", "[^A-Za-z]+")).alias("t"))
        .where(F.col("t") != "")
        .select(F.lower("t").alias("term"))
    )
    mg = sketch.misra_gries(toks, "term", k=255)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_occurrences"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * 256 >= 2 * F.col("n_total"))
        .join(F.broadcast(mg), "term", "left")
        .select(
            "term",
            "n_occurrences",
            F.col("est").isNotNull().alias("in_sketch"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("n_occurrences"))
                & (
                    F.col("est")
                    >= F.col("n_occurrences") - F.floor(F.col("n_total") / 256)
                )
            ).alias("est_in_bounds"),
        )
        .orderBy("term")
    )


_CMS_WIDTH = 512


def _cms_sql_parts(depth: int = 4, width: int = _CMS_WIDTH, salt: str = "cms") -> str:
    """Shared oracle CTEs: the literal (a, b) hash constants (the same
    Python function — sketch.cms_params — generates the Spark columns,
    so the two engines cannot drift), per-event 31-bit key hashes, and
    the full-table cell counts."""
    rows = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(sketch.cms_params(depth, salt))
    )
    return (
        f"WITH pr AS (SELECT * FROM (VALUES {rows}) AS t(j, ha, hb)), "
        "uh AS (SELECT user_id, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), "
        f"1, 8) AS BIGINT) % {sketch.CMS_PRIME} AS h FROM events), "
        f"cells AS (SELECT CAST(j AS BIGINT) AS j, "
        f"(ha * h + hb) % {sketch.CMS_PRIME} % {width} AS b, "
        "CAST(count(*) AS BIGINT) AS cnt FROM uh CROSS JOIN pr GROUP BY 1, 2)"
    )


@register(
    "events_cms_user_counts",
    _cms_sql_parts()
    + ", exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events "
    "FROM events GROUP BY 1), "
    "top AS (SELECT user_id, n_events FROM exact "
    "ORDER BY n_events DESC, user_id LIMIT 20), "
    "tb AS (SELECT t.user_id, t.n_events, p.j, "
    # the SAME modulus/width as _cms_sql_parts' cells CTE — frozen
    # literals here would silently diverge if the defaults changed
    f"(p.ha * u.h + p.hb) % {sketch.CMS_PRIME} % {_CMS_WIDTH} AS b "
    "FROM top t JOIN (SELECT DISTINCT user_id, h FROM uh) u USING (user_id) "
    "CROSS JOIN pr p) "
    "SELECT tb.user_id, tb.n_events, min(c.cnt) AS cms_est, "
    "CAST(min(c.cnt) - tb.n_events AS BIGINT) AS overcount "
    "FROM tb JOIN cells c ON c.j = tb.j AND c.b = tb.b "
    "GROUP BY tb.user_id, tb.n_events ORDER BY n_events DESC, user_id",
)
def events_cms_user_counts(spark, sf_dir):
    """Count-min point-frequency estimates for the top-20 users
    (operators/sketch.cms_build/cms_estimate), hash-exact: the
    pairwise-independent hash family is md5-seeded literals shared
    with the oracle, every cell count is exact integer arithmetic, so
    est and overcount (est - true ≥ 0, the CMS one-sidedness) are
    deterministic. MG's mirror image: CMS answers *frequency of any
    key* in O(depth) cells; MG answers *which keys are heavy*.
    100 TB shape: the sketch is ≤ depth·width rows whatever the key
    cardinality (map-side combine collapses the exploded stream), the
    estimate join is always broadcast, and the top-20 is TakeOrdered —
    no global window, no key-space shuffle beyond the exact twin this
    query audits against."""
    ev = load_table(spark, sf_dir, "events")
    cms = sketch.cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    top = exact.orderBy(F.desc("n_events"), "user_id").limit(20)
    est = sketch.cms_estimate(cms, top.select("user_id"), "user_id")
    return (
        top.join(F.broadcast(est), "user_id")
        .select(
            "user_id",
            "n_events",
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("n_events")).alias("overcount"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


def _cms_slice_cells_sql(px: str, cond: str) -> str:
    """Cell CTEs for a CMS over a filtered events slice (reuses the
    ``pr`` constants CTE from _cms_sql_parts' prefix)."""
    return (
        f"{px}h AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), "
        f"1, 8) AS BIGINT) % {sketch.CMS_PRIME} AS h FROM events WHERE {cond}), "
        f"{px}c AS (SELECT CAST(j AS BIGINT) AS j, "
        f"(ha * h + hb) % {sketch.CMS_PRIME} % {_CMS_WIDTH} AS b, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM {px}h CROSS JOIN pr GROUP BY 1, 2)"
    )


@register(
    "events_cms_join_estimate",
    _cms_sql_parts().split(", uh AS")[0]  # just the pr constants CTE
    + ", "
    + _cms_slice_cells_sql("a", "event_type = 'click'")
    + ", "
    + _cms_slice_cells_sql("k", "event_type = 'purchase'")
    + ", ip AS (SELECT ac.j, CAST(sum(ac.cnt * kc.cnt) AS BIGINT) AS ipj "
    "FROM ac JOIN kc ON ac.j = kc.j AND ac.b = kc.b GROUP BY 1), "
    "est AS (SELECT min(ipj) AS cms_estimate FROM ip), "
    "fa AS (SELECT user_id, CAST(count(*) AS BIGINT) AS na FROM events "
    "WHERE event_type = 'click' GROUP BY 1), "
    "fb AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nb FROM events "
    "WHERE event_type = 'purchase' GROUP BY 1), "
    "tru AS (SELECT CAST(sum(na * nb) AS BIGINT) AS true_join_size "
    "FROM fa JOIN fb USING (user_id)) "
    "SELECT true_join_size, cms_estimate, "
    "CAST(cms_estimate - true_join_size AS BIGINT) AS overcount "
    "FROM tru, est",
)
def events_cms_join_estimate(spark, sf_dir):
    """Join-cardinality estimation from sketches alone
    (sketch.cms_inner_product, the AMS estimator): |clicks ⋈ purchases
    on user_id| estimated as min_j Σ_b a[j][b]·b[j][b] over the two
    CMS cell tables — the question every join planner asks, answered
    from 2·depth·width integers without scanning either relation. The
    estimate is a deterministic overcount (collisions add non-negative
    cross terms), so estimate, truth, and gap all hash-check. At
    100 TB the per-relation sketches come from the mergeable rollup
    (events_cms_merge) — estimation itself reads no events."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    est = sketch.cms_inner_product(
        sketch.cms_build(a, "user_id"), sketch.cms_build(b, "user_id")
    )
    fa = a.groupBy("user_id").agg(F.count(F.lit(1)).alias("na"))
    fb = b.groupBy("user_id").agg(F.count(F.lit(1)).alias("nb"))
    tru = fa.join(fb, "user_id").agg(
        F.sum(F.col("na") * F.col("nb")).alias("true_join_size")
    )
    return tru.join(F.broadcast(est)).select(
        "true_join_size",
        F.col("est").alias("cms_estimate"),
        (F.col("est") - F.col("true_join_size")).alias("overcount"),
    )


@register(
    "events_cms_streamed",
    _cms_sql_parts() + " SELECT j, b, cnt FROM cells ORDER BY j, b",
)
def events_cms_streamed(spark, sf_dir):
    """The CMS maintained BY the streaming engine: the bucket explode
    runs on the event stream and the (j, b) cell counts are streaming
    aggregation state (complete mode, availableNow trigger) — after
    the run the state table IS the whole-corpus sketch, hash-checked
    against the same oracle as the batch and merge variants (the
    convergence contract, oracle-enforced). State is bounded at
    depth·width cells no matter how long the stream runs — the
    property that makes sketches the streaming answer to frequency
    questions, where exact per-key state grows with the key space."""
    cells = sketch.cms_build(_stream_events(spark, sf_dir), "user_id")
    with _StreamGate(spark, sf_dir) as gate:
        out = gate.run(
            gate.memory(cells, "cms_streamed", "complete").trigger(availableNow=True).start
        )
    return out.orderBy("j", "b")


@register(
    "events_heavy_hitters_streamed",
    _cms_sql_parts()
    + ", exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events "
    "FROM events GROUP BY 1), "
    "top AS (SELECT user_id, n_events FROM exact "
    "ORDER BY n_events DESC, user_id LIMIT 20), "
    "tb AS (SELECT t.user_id, t.n_events, p.j, "
    f"(p.ha * u.h + p.hb) % {sketch.CMS_PRIME} % {_CMS_WIDTH} AS b "
    "FROM top t JOIN (SELECT DISTINCT user_id, h FROM uh) u USING (user_id) "
    "CROSS JOIN pr p) "
    "SELECT tb.user_id, tb.n_events, min(c.cnt) AS cms_est, "
    "CAST(min(c.cnt) - tb.n_events AS BIGINT) AS cms_overcount, "
    "TRUE AS mg_present_or_light, TRUE AS mg_bounds_ok "
    "FROM tb JOIN cells c ON c.j = tb.j AND c.b = tb.b "
    "GROUP BY tb.user_id, tb.n_events ORDER BY n_events DESC, user_id",
)
def events_heavy_hitters_streamed(spark, sf_dir):
    """The streaming heavy-hitter MONITOR — the composition a
    training-data ingest pipeline actually runs over the unbounded
    tail (reference motif: ConsumeStream feeding an aggregation,
    internal/server/server.go:138-158): Misra-Gries summaries
    maintained as BOUNDED streaming state (streaming/heavy.py —
    groups × k entries forever, vs per-key exact state that grows
    with the key space) say WHO is heavy; CMS point estimates say HOW
    heavy; the exact twin audits both. MG summary CONTENT is
    batch-boundary-dependent (inherent to the sketch), so the
    hash-gated output asserts its THEOREMS, true at any scale and any
    arrival order: a top-20 user is either present in the streamed
    summary or provably light (absent ⇒ true count ≤ N/(k+1)), and a
    present user's estimate is an undercount by at most N/(k+1) —
    the docs_heavy_terms_sketch audit pattern lifted to streaming.
    The CMS numbers are deterministic and hash-exact (cells built
    batch-side here; streamed-cells == batch-cells is already gated
    by events_cms_streamed)."""
    from proglog_spark.streaming import heavy

    ev = load_table(spark, sf_dir, "events")
    emissions = heavy.streaming_heavy_hitters(
        _stream_events(spark, sf_dir), "user_id", k=255, groups=8
    )
    with _StreamGate(spark, sf_dir) as gate:
        summaries = gate.run(
            gate.memory(emissions, "heavy_streamed").trigger(availableNow=True).start
        )
    mg = heavy.latest_summaries(summaries).select(
        F.col("key").cast("long").alias("user_id"),
        F.col("est").alias("mg_est"),
    )

    cms = sketch.cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    top = exact.orderBy(F.desc("n_events"), "user_id").limit(20)
    est = sketch.cms_estimate(cms, top.select("user_id"), "user_id")
    n_total = ev.count()
    slack = n_total // 256  # N/(k+1) with k=255
    return (
        top.join(F.broadcast(est), "user_id")
        .join(F.broadcast(mg), "user_id", "left")
        .select(
            "user_id",
            "n_events",
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("n_events")).alias("cms_overcount"),
            (
                F.col("mg_est").isNotNull()
                | (F.col("n_events") <= F.lit(slack))
            ).alias("mg_present_or_light"),
            (
                F.col("mg_est").isNull()
                | (
                    (F.col("mg_est") <= F.col("n_events"))
                    & (F.col("mg_est") >= F.col("n_events") - F.lit(slack))
                )
            ).alias("mg_bounds_ok"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


@register(
    "events_cms_merge",
    _cms_sql_parts()
    + " SELECT j, b, cnt FROM cells ORDER BY j, b",
)
def events_cms_merge(spark, sf_dir):
    """CMS mergeability, asserted in the hash gate: the Spark side
    builds TWO sketches over disjoint halves of the corpus (even/odd
    user_id) and merges them by cell-wise sum; the oracle computes the
    whole-table sketch directly. Equality of the full cell tables is
    exactly the associativity a 100 TB rollup relies on — build one
    sketch per partition/day/shard, sum cells, never rescan."""
    ev = load_table(spark, sf_dir, "events")
    # != 0 (not == 1) so the two halves provably partition the table:
    # Spark's % keeps the dividend's sign, so a negative user_id would
    # satisfy NEITHER == 0 nor == 1 and silently vanish from the merge
    even = sketch.cms_build(ev.where(F.col("user_id") % 2 == 0), "user_id")
    odd = sketch.cms_build(ev.where(F.col("user_id") % 2 != 0), "user_id")
    return (
        even.unionByName(odd)
        .groupBy("j", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy("j", "b")
    )


@register(
    "docs_minhash_estimate_gate",
    f"WITH sh AS ({_JACCARD_SHINGLES_SQL}) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT) "
    "AS jaccard_micro, TRUE AS est_within_tol "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE floor(1000000.0 * len(list_intersect(a.sh, b.sh)) / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 200000 "
    "ORDER BY id_a, id_b",
)
def docs_minhash_estimate_gate(spark, sf_dir):
    """Accuracy gate for the probabilistic dedup path: for every
    EXACT near-dup pair (3-gram Jaccard ≥ 0.2), the 64-hash MinHash
    estimate (matching components / 64) must sit within ±0.25 of the
    exact similarity — ~5σ for J≈0.2 (worst observed error is 0.089
    at sf0.1, a 2.8× margin), so the boolean is deterministic in
    practice and the oracle emits literal TRUE. This pins the sketch
    the sub-quadratic `docs_minhash_lsh` path relies on to the ground
    truth it approximates, inside the hash-checked suite (the LSH
    query itself stays rows-only: candidate RECALL is probabilistic
    per band arrangement, but signature ACCURACY is a per-pair
    concentration bound). 64 hashes = the LSH path's configuration,
    so in-session the signatures and the verified-pairs cache are
    both shared, not recomputed."""
    d = load_table(spark, sf_dir, "documents")
    # r11: rides the session-shared verified-pairs table
    pairs = _jaccard_pairs_t(spark, sf_dir).select(
        "id_a", "id_b", "jaccard_micro"
    )
    sigs = dedup.minhash_signatures(d, num_hashes=64)
    n_eq = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))"
    )
    return (
        join_payload(pairs, sigs)
        .select(
            "id_a",
            "id_b",
            "jaccard_micro",
            (
                F.abs(
                    F.floor(n_eq * 1_000_000 / 64).cast("long")
                    - F.col("jaccard_micro")
                )
                <= 250_000
            ).alias("est_within_tol"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "events_out_of_order_audit",
    "WITH w AS (SELECT event_type, epoch_us(ts) AS us, "
    "max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx FROM events) "
    "SELECT event_type, count(*) AS n_events, "
    "CAST(sum(CASE WHEN mx - us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_late_1h, CAST(max(mx - us) AS BIGINT) AS max_lateness_us "
    "FROM w GROUP BY 1 ORDER BY 1",
)
def events_out_of_order_audit(spark, sf_dir):
    """Watermark-sizing audit: treating `event_id` as arrival order
    (the log's dense offset), an event's lateness is how far its
    event-time sits behind the per-user running high-water mark at
    arrival. `max_lateness_us` IS the minimum watermark delay that
    loses nothing; `n_late_1h` is what a 1-hour watermark would drop.
    This is the batch query you run before choosing
    `withWatermark()` for the streaming twins (SURVEY §2.0b late
    data). One user-key window shuffle + one type agg; integer µs."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = (F.max(us).over(w) - us).alias("lateness_us")
    return (
        e.select("event_type", late)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("lateness_us") > 3_600_000_000).cast("long"))
            .cast("long")
            .alias("n_late_1h"),
            F.max("lateness_us").cast("long").alias("max_lateness_us"),
        )
        .orderBy("event_type")
    )


@register(
    "events_type_value_quantiles",
    "WITH c AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents "
    "FROM events), r AS (SELECT event_type, cents, "
    "row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn, "
    "count(*) OVER (PARTITION BY event_type) AS n FROM c) "
    "SELECT event_type, CAST(max(n) AS BIGINT) AS n_events, "
    "max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cents END) AS p50_cents, "
    "max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cents END) AS p90_cents, "
    "max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN cents END) AS p99_cents "
    "FROM r GROUP BY 1 ORDER BY 1",
)
def events_type_value_quantiles(spark, sf_dir):
    """PER-GROUP exact nearest-rank quantiles via the CDF formulation:
    first reduce to counts per (event_type, cents) — a partial-agg
    shuffle whose output is bounded by the DISTINCT VALUE domain, not
    the row count — then run the rank arithmetic on that tiny table
    (a running sum per group over ~10^3 distinct cents). The naive
    per-group row_number window was measured at a 19x ratio in the
    100x scale probe (SCALING.md §9): with few groups its parallelism
    is capped at the group count, while the CDF reduction uses every
    core and ships ~|groups|·|distinct values| rows. Nearest-rank
    pick: the smallest cents whose cumulative count reaches
    ceil(q·n). `docs_length_quantiles_sketch` remains the sketch path
    for unbounded/continuous domains."""
    e = load_table(spark, sf_dir, "events")
    counts = (
        e.select(
            "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cdf = counts.select(
        "event_type",
        "cents",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(wn).cast("long").alias("n"),
    )
    # smallest cents whose cumulative count reaches the target rank ==
    # the value at that rank in the sorted sequence (ties collapse
    # into one cents row, so the min over qualifying rows is exact)
    at = lambda q: F.min(  # noqa: E731
        F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("cents"),
        )
    )
    return (
        cdf.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            at(0.5).alias("p50_cents"),
            at(0.9).alias("p90_cents"),
            at(0.99).alias("p99_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "events_distinct_rollup_streamed",
    "SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS bucket, event_type, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct "
    "FROM events GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_distinct_rollup_streamed(spark, sf_dir):
    """The continuous DISTINCT rollup (`streaming/distinct.py`, exact
    bitmap mode) run as a real streaming query over the fixture: the
    materialized mergeable-bitmap table must answer per-bucket
    distinct users EXACTLY equal to the batch count(DISTINCT) oracle.
    This is the streaming convergence contract for distinct counts —
    the idempotent-merge design means the same table would hash-match
    even under batch replays (pinned in tests/test_streaming.py)."""
    from proglog_spark.streaming.distinct import (
        continuous_distinct_rollup,
        read_distinct_rollup,
    )

    stream = _stream_events(spark, sf_dir)
    with _StreamGate(spark, sf_dir) as gate:
        rollup = gate.path("rollup")
        gate.run(
            lambda: continuous_distinct_rollup(
                stream,
                "ts",
                86400,  # daily: the rollup cost per batch scales with TOUCHED
                # bucket partitions, and a backfill of the whole fixture in
                # one batch touches every bucket — hourly granularity writes
                # ~500 tiny partition dirs here for no extra test coverage
                ["event_type"],
                "user_id",
                rollup_path=rollup,
                checkpoint_dir=gate.path("ckpt"),
                mode="exact",
            )
        )
        t = read_distinct_rollup(spark, rollup, ["event_type"], mode="exact").select(
            F.col("bucket").cast("long").alias("bucket"),
            "event_type",
            "n_distinct",
        )
        # the (bounded) answer is collected before the work dir
        # holding the rollup table goes
        rows, schema = t.collect(), t.schema
    return spark.createDataFrame(rows, schema).orderBy("bucket", "event_type")


@register(
    "docs_repeated_span_dedup",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "g AS (SELECT doc_id, array_to_string(w[i:i+19], ' ') AS gram "
    "FROM w, LATERAL unnest(range(1, len(w) - 20 + 2)) AS t(i)), "
    "d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), "
    "spans AS (SELECT doc_id, count(*) AS n_spans FROM g GROUP BY 1), "
    "dups AS (SELECT doc_id, count(*) AS n_dup_spans FROM g JOIN d USING (gram) "
    "GROUP BY 1) "
    "SELECT doc_id, n_spans, COALESCE(n_dup_spans, 0) AS n_dup_spans, "
    "CAST(CASE WHEN n_spans > 0 THEN floor(1000000.0 * COALESCE(n_dup_spans, 0) "
    "/ n_spans) ELSE 0 END AS BIGINT) AS dup_span_micro "
    "FROM spans LEFT JOIN dups USING (doc_id) ORDER BY doc_id",
)
def docs_repeated_span_dedup(spark, sf_dir):
    """Substring-granular dedup accounting (the ExactSubstr idea from
    the training-data dedup literature, at 20-token-window
    granularity): a span is flagged when its 20-gram occurs in ≥ 2
    DISTINCT documents, and each doc reports how much of it is
    cross-corpus duplicated text — the signal for span-level (not
    whole-doc) dedup of boilerplate, licenses, and mirrored passages.
    Within-doc repetition is deliberately excluded
    (`docs_repetition_stats` owns that). One explode feeds both the
    offender set and the probe; the flagged-gram set is tiny (`≈5%
    of grams here) so AQE broadcasts the semi join — at scale it
    co-partitions on the gram key instead.

    r12 (guide §2.3 "shuffle keys and metadata instead of payloads"):
    the gram shuffles carry md5(gram) — 32 hex chars — instead of the
    ~140-byte 20-token string, and the per-doc span COUNT is pure
    arithmetic on the token count (size(w) − 19 when ≥ 20 tokens —
    exactly the oracle's range cardinality), so the full gram table
    crosses ONE exchange (the offender groupBy) instead of three. The
    oracle is UNCHANGED: grouping by a 128-bit content hash equals
    grouping by the string itself unless md5 collides — the same
    accepted-idiom equality `docs_dedup_exact` is already oracle-gated
    on (the r11 parking note was about a 64-bit fingerprint, where
    2⁻⁶⁴·spans² collisions are reachable at corpus scale; at 128 bits
    they are not, at any scale)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 20
    )
    g = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 19), "
                "i -> md5(concat_ws(' ', slice(w, i, 20))))"
            )
        ).alias("gh"),
    )
    # ">= 2 distinct docs" == "min(doc) != max(doc)" — one map-side-
    # aggregated shuffle instead of countDistinct's two-exchange
    # distinct expansion (guide §2.3 "aggregate before you shuffle")
    dup = (
        g.groupBy("gh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .where(F.col("d0") != F.col("d1"))
        .select("gh")
    )
    spans = w.select(
        "doc_id", (F.size("w") - F.lit(19)).cast("long").alias("n_spans")
    )
    dups = (
        g.join(dup, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        spans.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.floor(
                    1_000_000.0
                    * F.coalesce("n_dup_spans", F.lit(0))
                    / F.col("n_spans")
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("dup_span_micro"),
        )
        .orderBy("doc_id")
    )


# the merge list is a FIXED artifact (tokenizers are deployed as
# frozen files); this one was trained by operators/bpe.train_bpe on
# the documents fixture and is reproducible from it (parity pinned in
# tests/test_operators.py and, since the docs_bpe_train_merges gate,
# replayed live by the SQL oracle).
_BPE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"), ("t", "</w>"),
    ("er", "</w>"), ("o", "w"), ("ow", "</w>"), ("l", "u"), ("i", "n"),
]


def _sqlq(s: str) -> str:
    """SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def _bpe_apply_parts(k: int, a_sql: str, b_sql: str, merged_sql: str,
                     gate_sql: str = "true") -> list[str]:
    """CTEs for ONE greedy left-to-right merge pass s{k-1} -> s{k}
    over (word, pos, sym) rows — the relational twin of
    operators/bpe.merge_pair. Greedy non-overlap needs care only when
    the pair is a==b (a run of identical symbols merges at
    run-relative positions 0, 2, 4, …): runs are identified with the
    gaps-and-islands idiom (pos − row_number per (word, sym)) and the
    parity test applies; for a != b, adjacent matches cannot overlap
    and the parity clause is vacuously true. A matched position takes
    the merged symbol, the position after a match is dropped
    (lag(hit)), and positions renumber densely."""
    p = k - 1
    return [
        f"m{k} AS (SELECT word, pos, sym, "
        f"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nx, "
        f"row_number() OVER (PARTITION BY word, sym, ri ORDER BY pos) - 1 AS runpos "
        f"FROM (SELECT word, pos, sym, pos - row_number() OVER "
        f"(PARTITION BY word, sym ORDER BY pos) AS ri FROM s{p}))",
        f"h{k} AS (SELECT word, pos, sym, (sym = {a_sql} AND nx = {b_sql} "
        f"AND {gate_sql} AND ({a_sql} != {b_sql} OR runpos % 2 = 0)) AS hit "
        f"FROM m{k})",
        f"s{k} AS MATERIALIZED (SELECT word, "
        f"row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, "
        f"CASE WHEN hit THEN {merged_sql} ELSE sym END AS sym "
        f"FROM (SELECT word, pos, sym, hit, lag(hit, 1, false) OVER "
        f"(PARTITION BY word ORDER BY pos) AS ph FROM h{k}) WHERE NOT ph)",
    ]


_BPE_SYMS_SQL = (
    "(SELECT word, pos, CASE WHEN pos <= length(word) "
    "THEN word[CAST(pos AS INT)] ELSE '</w>' END AS sym "
    "FROM (SELECT word, CAST(unnest(range(1, length(word) + 2)) AS BIGINT) "
    "AS pos FROM {src}))"
)


def _bpe_encode_oracle(merges: list[tuple[str, str]]) -> str:
    """SQL replay of bpe.encode with a frozen merge list: the merge
    loop runs once per DISTINCT word (the same Zipf cache trick as the
    Arrow encoder) as an unrolled chain of merge-pass CTEs — the
    AS MATERIALIZED discipline from the Lloyd-chain oracles (DuckDB
    re-inlines un-materialized CTEs per reference)."""
    parts = [
        "WITH wl AS MATERIALIZED (SELECT doc_id, "
        "list_filter(str_split(text, ' '), x -> x != '') AS ws FROM documents)",
        "wd AS MATERIALIZED (SELECT DISTINCT unnest(ws) AS word FROM wl)",
        "s0 AS MATERIALIZED " + _BPE_SYMS_SQL.format(src="wd"),
    ]
    for k, (a, b) in enumerate(merges, 1):
        parts += _bpe_apply_parts(k, _sqlq(a), _sqlq(b), _sqlq(a + b))
    n = len(merges)
    parts += [
        f"enc AS MATERIALIZED (SELECT word, list(sym ORDER BY pos) AS toks, "
        f"count(*) AS nt FROM s{n} GROUP BY word)",
        "dw AS (SELECT doc_id, i, ws[CAST(i AS INT)] AS word FROM wl, "
        "unnest(range(1, len(ws) + 1)) AS t(i))",
        "agg AS (SELECT d.doc_id, count(*) AS n_words, "
        "CAST(sum(e.nt) AS BIGINT) AS n_tokens, "
        "array_to_string((flatten(list(e.toks ORDER BY d.i)))[1:12], ' ') "
        "AS token_prefix "
        "FROM dw d JOIN enc e ON d.word = e.word GROUP BY d.doc_id)",
    ]
    return ", ".join(parts) + (
        " SELECT c.doc_id, CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words, "
        "CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens, "
        "coalesce(a.token_prefix, '') AS token_prefix "
        "FROM documents c LEFT JOIN agg a ON c.doc_id = a.doc_id "
        "ORDER BY c.doc_id"
    )


def _bpe_train_oracle(num_merges: int = 10, min_pair_count: int = 2,
                      cap: int = 1_000_000) -> str:
    """SQL replay of bpe.train_bpe_driver: the (word, n) reduction
    (bounded the same way: top ``cap`` by count desc, word), then per
    merge an exact pair-count aggregation, the argmax with the
    trainer's tie-break (count desc, a, b — the heap key), and the
    greedy apply pass — unrolled ``num_merges`` times. The
    min_pair_count stop replays as a gate on the apply (a sub-minimum
    best pair leaves the symbols unchanged, so every later step picks
    the same sub-minimum pair and is filtered from the output —
    exactly the trainer's early stop)."""
    parts = [
        "WITH wf AS MATERIALIZED (SELECT word, n FROM ("
        "SELECT word, CAST(count(*) AS BIGINT) AS n FROM ("
        "SELECT unnest(str_split(text, ' ')) AS word FROM documents) "
        "WHERE word != '' GROUP BY word) "
        f"ORDER BY n DESC, word LIMIT {cap})",
        "s0 AS MATERIALIZED " + _BPE_SYMS_SQL.format(src="wf"),
    ]
    for k in range(1, num_merges + 1):
        parts += [
            f"p{k} AS MATERIALIZED (SELECT sym AS a, nx AS b, "
            f"CAST(sum(n) AS BIGINT) AS cnt FROM "
            f"(SELECT s.word, s.sym, lead(s.sym) OVER "
            f"(PARTITION BY s.word ORDER BY s.pos) AS nx FROM s{k - 1} s) j "
            f"JOIN wf ON j.word = wf.word WHERE nx IS NOT NULL GROUP BY 1, 2)",
            f"b{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k} "
            f"ORDER BY cnt DESC, a, b LIMIT 1)",
        ]
        parts += _bpe_apply_parts(
            k,
            f"(SELECT a FROM b{k})",
            f"(SELECT b FROM b{k})",
            f"(SELECT a || b FROM b{k})",
            gate_sql=f"(SELECT cnt FROM b{k}) >= {min_pair_count}",
        )
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_idx, a AS lhs, b AS rhs, cnt "
        f"FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    return ", ".join(parts) + (
        f" SELECT merge_idx, lhs, rhs FROM ({union}) "
        f"WHERE cnt >= {min_pair_count} ORDER BY merge_idx"
    )


@register("docs_bpe_token_stats", _bpe_encode_oracle(_BPE_MERGES))
def docs_bpe_token_stats(spark, sf_dir):
    """Subword tokenization as a pipeline stage: the frozen BPE merge
    list (`operators/bpe.py`) applied corpus-wide in one Arrow-batched
    pass — per-doc word/token counts plus the leading token ids'
    strings. The compression ratio n_tokens/n_chars is the metric a
    data pipeline tracks per source before training. HASH-GATED: the
    oracle replays the encoder as an unrolled chain of greedy
    merge-pass CTEs over the distinct words (was the repo's one
    rows-only query; training itself is gated by
    docs_bpe_train_merges)."""
    from proglog_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents")
    return bpe.encode(d, _BPE_MERGES).orderBy("doc_id")


@register("docs_bpe_train_merges", _bpe_train_oracle())
def docs_bpe_train_merges(spark, sf_dir):
    """BPE TRAINING in the oracle gate: bpe.train_bpe_driver's merge
    loop — one Spark reduction to the bounded (word, n) table, then
    the in-memory lazy-heap merge loop (2 Spark jobs at any vocabulary
    size) — hash-matched against a SQL oracle that unrolls the exact
    argmax/tie-break/greedy-apply recurrence with AS MATERIALIZED CTEs
    (the integer-Lloyd recipe). The iterative trainer was the last
    rows-only surface in the repo; with this gate the merge SEQUENCE
    itself is engine-portable, not just replayable in-process."""
    from proglog_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents")
    merges = bpe.train_bpe_driver(d, num_merges=10)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_idx LONG, lhs STRING, rhs STRING",
    ).orderBy("merge_idx")


@register(
    "events_bitmap_distinct",
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY 1 ORDER BY 1",
)
def events_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via mergeable bitmaps
    (bitmap_construct_agg / bitmap_or_agg): the inner aggregation
    folds user ids into one ≤4 KB bitmap per (event_type, 32k-id
    bucket); the outer one ORs bitmaps and counts bits. Same answer
    as count(DISTINCT), different physics: a plain distinct-count
    shuffles every raw id; the bitmap shuffle carries fixed-size
    bitmaps, and — the real point at 100 TB — the per-bucket bitmaps
    are a PERSISTABLE increment: a continuous rollup stores them per
    partition/day and re-merges with bitmap_or, never re-scanning
    history (exact twin of the HLL pattern in
    `events_hll_rollup_gate`; ids are +1-shifted because position 0
    of bucket 0 aliases with id 32768's slot for non-positive ids)."""
    e = load_table(spark, sf_dir, "events")
    buckets = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id + 1)").alias("bk"),
            F.expr("bitmap_bit_position(user_id + 1)").alias("pos"),
        )
        .groupBy("event_type", "bk")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("b"))
    )
    return (
        buckets.groupBy("event_type")
        .agg(F.expr("bitmap_count(bitmap_or_agg(b))").alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "events_hll_rollup_gate",
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact, "
    "TRUE AS est_within_5pct FROM events GROUP BY 1 ORDER BY 1",
)
def events_hll_rollup_gate(spark, sf_dir):
    """Mergeable-sketch distinct counting: per (event_type, day) HLL
    sketches (hll_sketch_agg — the increment a streaming rollup
    persists) are re-merged with hll_union_agg and estimated; the
    gate asserts the merged estimate lands within 5% of exact and the
    oracle emits literal TRUE. The sibling `events_approx_distinct`
    measures one-shot approx_count_distinct; THIS query pins the
    property that matters for incremental pipelines — union-merging
    pre-aggregated sketches loses nothing vs sketching the raw
    stream, so yesterday's sketches never need re-scanning."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type", F.to_date("ts").alias("day"), F.col("user_id")
        )
        .groupBy("event_type", "day")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("s"))
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(s))").alias("est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users_exact")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("est") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("est_within_5pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Coverage wave: remaining join flavors (CROSS + RIGHT OUTER), context-window
# chunking, perplexity-proxy rarity filtering, iterative PageRank
# ---------------------------------------------------------------------------


@register(
    "events_type_day_matrix",
    "WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, "
    "event_type, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2), "
    "d AS (SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day "
    "FROM events), "
    "t AS (SELECT DISTINCT event_type FROM events) "
    "SELECT d.day, t.event_type, COALESCE(c.n_events, 0) AS n_events "
    "FROM d CROSS JOIN t LEFT JOIN c ON c.day = d.day "
    "AND c.event_type = t.event_type ORDER BY 1, 2",
)
def events_type_day_matrix(spark, sf_dir):
    """Dense day x event-type matrix with zero-fill — the reporting
    shape where absent combinations must appear as explicit zeros.
    Completes the join-flavor inventory with the two remaining kinds:
    a CROSS JOIN building the dense grid (both sides are DISTINCT
    projections — days x types, metadata-scale however large the fact
    table grows) and a RIGHT OUTER hash join from the aggregated
    counts onto the grid. The grid's type side is broadcast, so the
    cross product never shuffles; counts come from one partial-agg
    shuffle over the facts. At 100 TB the grid stays tiny (days x
    types), so the outer join is itself broadcastable by AQE."""
    e = load_table(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / F.lit(86400)).cast("long")
    counts = e.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    days = e.select(day.alias("day")).distinct()
    types = e.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    return (
        counts.join(grid, ["day", "event_type"], "right_outer")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


_CHUNK_SIZE = 400
_CHUNK_STRIDE = 300


@register(
    "docs_chunk_spans",
    "SELECT doc_id, CAST(start // 300 AS BIGINT) AS chunk_idx, "
    "CAST(start AS BIGINT) AS start, "
    "CAST(least(start + 400, n) - start AS BIGINT) AS chunk_len, "
    "md5(substring(text, start + 1, 400)) AS chunk_md5 FROM ("
    "SELECT doc_id, text, length(text) AS n, "
    "unnest(generate_series(0, greatest(length(text) - 1, 0), 300)) AS start "
    "FROM documents) ORDER BY doc_id, start",
)
def docs_chunk_spans(spark, sf_dir):
    """Context-window chunking — split every document into 400-char
    chunks with a 300-char stride (100-char overlap), emitting the
    char span and a content digest per chunk. This is the pretraining
    step that turns variable-length documents into model-window
    pieces while keeping provenance (doc_id, start) for dedup and
    attribution downstream. Pure narrow plan: length/sequence/explode
    /substring all run JVM-side inside one codegen stage with ZERO
    shuffles before the final presentation sort — at 100 TB the
    chunker is scan-bound, exactly as it should be. Chunk starts come
    from ``sequence(0, n-1, stride)`` so the last partial chunk is
    kept and empty documents still yield one empty chunk."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    ch = d.select(
        "doc_id",
        "text",
        n.alias("n"),
        F.explode(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    return ch.select(
        "doc_id",
        (F.col("start") / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start"),
        (F.least(F.col("start") + _CHUNK_SIZE, F.col("n")) - F.col("start"))
        .cast("long")
        .alias("chunk_len"),
        F.md5(F.expr(f"substring(text, start + 1, {_CHUNK_SIZE})")).alias(
            "chunk_md5"
        ),
    ).orderBy("doc_id", "start")


@register(
    "docs_rarity_filter",
    "WITH tok AS (SELECT doc_id, lower(t) AS term FROM "
    "(SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS t "
    "FROM documents) WHERE t <> ''), "
    "vc AS (SELECT term, count(*) AS c FROM tok GROUP BY 1), "
    "vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY c DESC, term) - 1 "
    "AS BIGINT) AS id FROM vc ORDER BY c DESC, term LIMIT 1000), "
    "j AS (SELECT t.doc_id, COALESCE(v.id, 1000) AS r FROM tok t "
    "LEFT JOIN vocab v USING (term)) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(r) AS BIGINT) AS rarity_sum, "
    "CAST(floor(1000000.0 * sum(r) / count(*)) AS BIGINT) AS rarity_mean_micro "
    "FROM j GROUP BY 1 ORDER BY 1",
)
def docs_rarity_filter(spark, sf_dir):
    """Perplexity-proxy quality filter, model-free: score each doc by
    the mean corpus-frequency RANK of its tokens (0 = most frequent;
    out-of-vocab beyond the top-1000 costs a flat 1000). Rank-sum is
    the integer-exact stand-in for unigram negative-log-likelihood
    (log-prob is monotone in frequency rank), so the filter behaves
    like a KenLM perplexity gate while staying hash-comparable across
    engines — float ``ln`` ulp differences can flip a floor, ranks
    cannot. Same scale shape as `docs_tokenize_ids`: the vocabulary is
    a TakeOrdered top-1000 (driver-scale by construction), broadcast
    into a map-side left join; one token-explode scan, one partial-agg
    shuffle on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    toks = _alpha_tokens(d)
    vocab = _vocab_top1000(toks)
    j = toks.join(F.broadcast(vocab), "term", "left").select(
        "doc_id", F.coalesce(F.col("id"), F.lit(1000)).alias("r")
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("r").alias("rarity_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "rarity_sum",
            F.floor(1000000.0 * F.col("rarity_sum") / F.col("n_tokens"))
            .cast("long")
            .alias("rarity_mean_micro"),
        )
        .orderBy("doc_id")
    )


_PR_SCALE = 1_000_000_000  # rank mass in nano units
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled fixed-point PageRank oracle: 5 damped iterations as
    chained CTEs (DuckDB's recursive CTE disallows aggregation in the
    recursive term, so the loop is unrolled). All arithmetic is BIGINT
    with `//` floor division — structurally identical to the Spark
    side's `div`, so the hashes match exactly."""
    base = (
        "WITH tr AS (SELECT prev_type AS src, event_type AS dst, "
        "CAST(count(*) AS BIGINT) AS n FROM (SELECT event_type, "
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "AS prev_type FROM events) WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
        "outw AS (SELECT src, CAST(sum(n) AS BIGINT) AS ow FROM tr GROUP BY 1), "
        "e AS (SELECT tr.src, tr.dst, tr.n, outw.ow FROM tr "
        "JOIN outw USING (src)), "
        "nodes AS (SELECT DISTINCT event_type AS node FROM events), "
        f"r0 AS (SELECT node, {_PR_SCALE} // (SELECT count(*) FROM nodes) "
        "AS rank FROM nodes)"
    )
    teleport = f"({15 * _PR_SCALE // 100} // (SELECT count(*) FROM nodes))"
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f", r{i} AS (SELECT nodes.node, {teleport} + "
            f"(85 * COALESCE(s.t, 0)) // 100 AS rank FROM nodes LEFT JOIN "
            f"(SELECT e.dst AS node, CAST(sum((r{i-1}.rank * e.n) // e.ow) "
            f"AS BIGINT) AS t FROM r{i-1} JOIN e ON r{i-1}.node = e.src "
            "GROUP BY 1) s USING (node))"
        )
    return (
        base
        + "".join(steps)
        + f" SELECT node AS event_type, CAST(rank AS BIGINT) AS pagerank_nano "
        f"FROM r{_PR_ITERS} ORDER BY node"
    )


@register("events_type_pagerank", _pagerank_oracle())
def events_type_pagerank(spark, sf_dir):
    """Iterative PageRank over the event-type transition graph (edges
    = per-user consecutive-event transitions, the `events_markov_
    transitions` graph), 5 damped iterations at damping 0.85. All
    arithmetic is nano-scaled BIGINT with floor division (`div`), so
    the result hash-matches the unrolled DuckDB oracle exactly —
    iterative graph algorithms usually settle for rows-only checks;
    the fixed-point formulation makes this one exact. Scale shape:
    the EDGE build is the distributed part (one user-key window
    shuffle + one pair agg, linear in events); the iteration then
    runs on the node/edge tables, which are |event_type|-sized —
    each step broadcasts the current rank vector into the edge table
    (map-side join), aggregates contributions by destination (tiny
    shuffle), and left-joins back onto the node list. For graphs with
    large node sets the same loop holds with the broadcast replaced
    by a hash join on src — the Pregel pattern — which this code
    path demonstrates without needing it at event-type cardinality.
    Dangling nodes keep teleport mass only (no redistribution), the
    same convention on both sides."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outw = tr.groupBy("src").agg(F.sum("n").alias("ow"))
    # persisted: read every iteration; released via unpersist() after
    # the eager localCheckpoint loop below
    edges = tr.join(outw, "src").persist()
    nodes = e.select(F.col("event_type").alias("node")).distinct().persist()
    n_nodes = nodes.count()
    teleport = (15 * _PR_SCALE // 100) // n_nodes
    rank = nodes.select("node", F.lit(_PR_SCALE // n_nodes).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                F.broadcast(rank), edges["src"] == rank["node"]
            )
            .select("dst", F.expr("(rank * n) div ow").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("t"))
        )
        rank = (
            nodes.join(
                F.broadcast(contrib), nodes["node"] == contrib["dst"], "left"
            )
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(t, CAST(0 AS BIGINT))) div 100")
                ).alias("rank"),
            )
        )
        # rank is |nodes| rows; truncating lineage here keeps the plan
        # depth O(1) per iteration instead of re-embedding every prior
        # round (the same discipline as operators/bpe.train_bpe).
        rank = rank.localCheckpoint(eager=True)
    out = rank.select(
        F.col("node").alias("event_type"),
        F.col("rank").cast("long").alias("pagerank_nano"),
    ).orderBy("event_type")
    # the iterations are eager (localCheckpoint), so the working-set
    # caches have served their purpose — release them rather than
    # accumulating executor storage across repeated invocations
    edges.unpersist()
    nodes.unpersist()
    return out


@register(
    "events_journey_segments",
    "WITH r AS (SELECT user_id, event_type, ts, event_id, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn "
    "FROM events), "
    "p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) "
    "AS type_path FROM r WHERE rn <= 3 GROUP BY 1) "
    "SELECT type_path, CAST(count(*) AS BIGINT) AS n_users "
    "FROM p GROUP BY 1 ORDER BY 1",
)
def events_journey_segments(spark, sf_dir):
    """User-journey segmentation via ordered-set string aggregation:
    each user's signature is their first three events' types joined
    in time order (``listagg(...) WITHIN GROUP (ORDER BY ...)`` —
    the SQL:2016 ordered-set aggregate, new surface in Spark 4),
    then users are counted per signature. Signatures are bounded (3
    steps), so every intermediate is small: the rank and the listagg
    share one user_id shuffle, then one partial-agg shuffle on the
    signature. The oracle uses DuckDB's spelling (``string_agg(...
    ORDER BY)``) of the same aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )
    paths = first3.groupBy("user_id").agg(
        F.expr(
            "listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("type_path")
    )
    return (
        paths.groupBy("type_path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("type_path")
    )


@register(
    "events_halves_bag_ops",
    "WITH f AS (SELECT user_id, event_type FROM events WHERE event_id % 2 = 0), "
    "s AS (SELECT user_id, event_type FROM events WHERE event_id % 2 = 1), "
    "i AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM "
    "(SELECT * FROM f INTERSECT ALL SELECT * FROM s) GROUP BY 1), "
    "x AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM "
    "(SELECT * FROM f EXCEPT ALL SELECT * FROM s) GROUP BY 1), "
    "t AS (SELECT DISTINCT event_type FROM events) "
    "SELECT t.event_type, COALESCE(i.n, 0) AS n_common_pairs, "
    "COALESCE(x.n, 0) AS n_first_only FROM t "
    "LEFT JOIN i USING (event_type) LEFT JOIN x USING (event_type) "
    "ORDER BY 1",
)
def events_halves_bag_ops(spark, sf_dir):
    """Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL,
    the multiset flavors the distinct-based set-op queries
    (`events_same_day_conversion`, `events_inactive_users`) cannot
    express: multiplicities carry through (a (user, type) pair seen 3
    times in one half and 2 in the other contributes 2 to the
    intersection and 1 to the difference). Spark plans both as
    count-aggregated joins under the hood — one shuffle on the pair
    key per operator, no row-by-row matching — so the bag semantics
    cost the same as a grouped join at any scale. Halves come from
    event_id parity (deterministic, no RNG)."""
    e = load_table(spark, sf_dir, "events")
    first = e.where(F.col("event_id") % 2 == 0).select("user_id", "event_type")
    second = e.where(F.col("event_id") % 2 == 1).select("user_id", "event_type")
    inter = (
        first.intersectAll(second)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exc = (
        first.exceptAll(second)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    types = e.select("event_type").distinct()
    return (
        types.join(inter, "event_type", "left")
        .join(exc, "event_type", "left")
        .select(
            "event_type",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias(
                "n_common_pairs"
            ),
            F.coalesce(F.col("n_first"), F.lit(0)).cast("long").alias(
                "n_first_only"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "docs_source_scorecard",
    "WITH d AS (SELECT source, lang, md5(text) AS h, "
    "len(string_split(text, ' ')) AS toks FROM documents), "
    "per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs, "
    "CAST(sum(toks) AS BIGINT) AS total_tokens FROM d GROUP BY 1), "
    "lc AS (SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2), "
    "top AS (SELECT source, lang AS top_lang, "
    "CAST(c AS BIGINT) AS top_lang_n FROM (SELECT *, row_number() OVER "
    "(PARTITION BY source ORDER BY c DESC, lang) AS rn FROM lc) WHERE rn = 1) "
    "SELECT per.source, n_docs, n_dup_docs, "
    "CAST(floor(1000000.0 * n_dup_docs / n_docs) AS BIGINT) AS dup_micro, "
    "total_tokens, "
    "CAST(floor(1000000.0 * total_tokens / n_docs) AS BIGINT) AS mean_tokens_micro, "
    "top_lang, top_lang_n FROM per JOIN top USING (source) ORDER BY 1",
)
def docs_source_scorecard(spark, sf_dir):
    """Per-source data-quality scorecard — the one-page report a
    curation team reviews before admitting a source into the mix:
    volume, exact duplicate rate, token mass, mean document length,
    and the dominant language (deterministic tie-break: count DESC
    then lang). One scan feeds two grouped aggregates on the tiny
    source key (a distinct-agg for the dup rate, a (source, lang)
    rollup ranked per source), joined back broadcast-size. Pairs with
    `docs_weighted_mixture` (which CONSUMES per-source decisions this
    report informs) and `docs_source_dedup_stats` (the md5-level
    drill-down)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count_distinct("h")).alias("n_dup_docs"),
        F.sum("toks").alias("total_tokens"),
    )
    lc = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("c").cast("long").alias("top_lang_n"),
        )
    )
    return (
        per.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.floor(1000000.0 * F.col("n_dup_docs") / F.col("n_docs"))
            .cast("long")
            .alias("dup_micro"),
            "total_tokens",
            F.floor(1000000.0 * F.col("total_tokens") / F.col("n_docs"))
            .cast("long")
            .alias("mean_tokens_micro"),
            "top_lang",
            "top_lang_n",
        )
        .orderBy("source")
    )


_LATERAL_SQL = (
    "SELECT n.n_name, t.c_name, "
    "CAST(floor(t.c_acctbal * 100) AS BIGINT) AS acctbal_cents "
    "FROM {nation} n, LATERAL ("
    "SELECT c_name, c_acctbal FROM {customer} c "
    "WHERE c.c_nationkey = n.n_nationkey "
    "ORDER BY c_acctbal DESC, c_name LIMIT 2) t "
    "ORDER BY n.n_name, acctbal_cents DESC, t.c_name"
)


@register(
    "tpch_lateral_top_customers",
    _LATERAL_SQL.format(nation="nation", customer="customer"),
)
def tpch_lateral_top_customers(spark, sf_dir):
    """Correlated LATERAL join — the last join flavor in the
    inventory: for each nation, its top-2 customers by account
    balance via a per-row correlated subquery with ORDER BY + LIMIT.
    Identical SQL text through spark.sql and DuckDB. Catalyst
    decorrelates the lateral into a window-rank over a hash join
    (not a nested loop per nation) — the same physical shape as the
    explicit `events_user_topk` formulation, which remains the
    recommended spelling; this entry pins that the SQL-level LATERAL
    construct is available and optimizes correctly. Deterministic
    tie-break: balance DESC then customer name."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "lateral_nation_src"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lateral_customer_src"
    )
    return spark.sql(
        _LATERAL_SQL.format(
            nation="lateral_nation_src", customer="lateral_customer_src"
        )
    )


@register(
    "events_sql_udf_buckets",
    "SELECT event_type, CAST(floor(floor(value * 100) / 500) AS BIGINT) "
    "AS cents_bucket, CAST(count(*) AS BIGINT) AS n_events "
    "FROM events GROUP BY 1, 2 ORDER BY 1, 2",
)
def events_sql_udf_buckets(spark, sf_dir):
    """SQL-defined function surface (Spark 4 ``CREATE FUNCTION ...
    RETURNS ... RETURN expr``): the bucketing logic is declared ONCE
    as a catalog-level SQL UDF and reused by name. Unlike Python
    UDFs, SQL UDFs inline into the plan at analysis time — the
    executed plan is byte-identical to writing the expression
    directly (whole-stage codegen, pushdown through it), so shared
    business logic costs nothing at 100 TB. The oracle spells the
    same expression inline (DuckDB macros are the equivalent; the
    driver's oracle runner takes one SELECT, so the twin stays
    textual)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cents_bucket(v DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(floor(v * 100) / 500) AS BIGINT)"
    )
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "sql_udf_events_src"
    )
    return spark.sql(
        "SELECT event_type, cents_bucket(value) AS cents_bucket, "
        "CAST(count(*) AS BIGINT) AS n_events "
        "FROM sql_udf_events_src GROUP BY 1, 2 ORDER BY 1, 2"
    )


@register(
    "docs_sql_tvf_tokens",
    "SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok FROM ("
    "SELECT doc_id, unnest(string_split(text, ' ')) AS tok, "
    "unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos "
    "FROM documents) WHERE doc_id < 5 ORDER BY doc_id, pos",
)
def docs_sql_tvf_tokens(spark, sf_dir):
    """SQL table function surface (Spark 4 ``CREATE FUNCTION ...
    RETURNS TABLE``): a tokenizer declared as a catalog TVF and
    applied per-row through a correlated LATERAL — the SQL-native
    row-expansion mechanism, completing the function-surface trio
    next to the Python UDTF (`docs_udtf_ngrams`, worker-process fan
    -out) and the inline ``explode`` (`docs_top_terms`, the hot-path
    spelling). Like scalar SQL UDFs the body inlines at analysis
    time, so the plan is the same Generate/explode Spark would emit
    for the direct expression."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tokenize_ws(s STRING) "
        "RETURNS TABLE(tok STRING, pos INT) RETURN "
        "SELECT t.col, CAST(t.pos AS INT) FROM "
        "LATERAL posexplode(split(s, ' ')) AS t(pos, col)"
    )
    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 5
    ).createOrReplaceTempView("sql_tvf_docs_src")
    return spark.sql(
        "SELECT d.doc_id, CAST(t.pos AS BIGINT) AS pos, t.tok "
        "FROM sql_tvf_docs_src d, LATERAL tokenize_ws(d.text) t "
        "ORDER BY d.doc_id, pos"
    )


# shared by docs_dsir_selection (in-session fit-and-score) and
# docs_dsir_from_model (persisted-model path): fitting on the same
# corpus, both plans must select the same top-100
_DSIR_ORACLE = (
    "WITH w AS (SELECT doc_id, lang, "
    "list_filter(string_split(text, ' '), x -> x != '') AS ws FROM documents), "
    "ix AS (SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM w "
    "WHERE len(ws) >= 2), "
    "f AS (SELECT doc_id, lang, "
    "CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8)) AS BIGINT) "
    "% 10007 AS bk FROM ix), "
    "df_doc AS (SELECT doc_id, bk, CAST(count(*) AS BIGINT) AS k "
    "FROM f GROUP BY 1, 2), "
    "raw AS (SELECT bk, CAST(count(*) AS BIGINT) AS rc, "
    "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc "
    "FROM f GROUP BY 1), "
    "tot AS (SELECT CAST(sum(rc) AS BIGINT) AS R, "
    "CAST(sum(tc) AS BIGINT) AS T FROM raw), "
    "m AS (SELECT bk, ((tc + 1) * (R + 10007) * 1000000) // "
    "((rc + 1) * (T + 10007)) AS ratio_micro FROM raw, tot), "
    "sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats, "
    "CAST(sum(k * ratio_micro) // sum(k) AS BIGINT) AS dsir_micro "
    "FROM df_doc JOIN m USING (bk) GROUP BY 1) "
    "SELECT doc_id, n_feats, dsir_micro FROM sc "
    "ORDER BY dsir_micro DESC, doc_id LIMIT 100"
)


def _dsir_features_t(spark, sf_dir) -> DataFrame:
    """The full-corpus DSIR per-doc feature TABLE (doc_id, is_tgt,
    bk, k; is_target = lang == 'en', the family's fixed target) —
    session-shared across the three DSIR consumers
    (docs_dsir_selection, docs_dsir_from_model, docs_dsir_score_new),
    which previously ran FOUR independent featurize passes (bigram
    explode + md5 hash + groupBy) between them per session (r11;
    guide §5 + §1.2). is_tgt is constant per doc_id (lang is a doc
    column) and featurization is row-local, so the score_new halves
    are exact parity filters of this table (the _bm25_tf_t commuting
    argument). Cardinality is distinct (doc, bucket) pairs — the
    reduced feature tier, never the token stream. Memoized handle +
    .cache(): first touch per session computes from parquet,
    clearCache() re-registers on next call, a new session starts
    empty."""
    # cached: the three DSIR consumers read this feature table
    # (lifecycle in the docstring; .cache() re-applies per call so
    # clearCache re-registers)
    return _memo_df(
        spark,
        sf_dir,
        "dsir_features",
        lambda: text._dsir_doc_features(
            load_table(spark, sf_dir, "documents"),
            10007,
            "text",
            "doc_id",
            F.col("lang") == "en",
        ),
    ).cache()


@register("docs_dsir_selection", _DSIR_ORACLE)
def docs_dsir_selection(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023) as a first-class pipeline
    stage: rank the corpus by hashed-bigram importance against a
    target domain (here lang='en' — the classic "select web data that
    looks like the target" recipe) and keep the top 100. The
    per-feature log-ratio of the paper becomes the integer-exact mean
    likelihood ratio on the micro grid (`text.dsir_topk` — same
    oracle-gating convention as the LM scorers), so feature hashing,
    the two smoothed multinomials, scoring, AND selection all
    hash-match the SQL oracle. Scale posture: the model is ≤ 10007
    rows regardless of corpus size (the whole point of DSIR's hashed
    features) and broadcasts to the join-back; the only corpus-scale
    shuffles are two map-side-combinable feature-count reductions.
    The reference has no text analytics at all (payloads are opaque
    bytes, api/v1/log.proto:8); north-star training-data surface.
    r11: rides the session-shared feature table (_dsir_features_t)
    also consumed by the two persisted-model gates."""
    d = load_table(spark, sf_dir, "documents")
    return text.dsir_topk(
        d,
        F.col("lang") == "en",
        k=100,
        doc_features=_dsir_features_t(spark, sf_dir),
    )


@register("docs_dsir_from_model", _DSIR_ORACLE)
def docs_dsir_from_model(spark, sf_dir):
    """The persisted-DSIR-model path inside the hash gate: fit and
    WRITE the model (`text.dsir_model_write` — one ≤10007-row parquet
    file plus the meta row pinning the bucket space and smoothing
    floor), then select the top-100 by scoring the corpus against the
    FROZEN artifact (`text.dsir_model_score`). Same oracle as
    `docs_dsir_selection`: the train-once/score-forever spelling must
    reproduce the in-session fit exactly — a drifted bucket space,
    lost model rows, or a broken smoothing floor fails CORRECTNESS.
    Since this composition scores the corpus the model was trained
    on, it reuses the write path's materialized feature table
    (`dsir_model_write`'s return value) — ONE featurize pass end to
    end; `docs_dsir_score_new` gates the genuine new-data path that
    must featurize its own input."""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="dsir_model_gate_")
    try:
        # r11: the shared cached feature table stands in for the
        # keep_features checkpoint — same one-featurize-pass story,
        # now session-wide across the DSIR family
        feats = text.dsir_model_write(
            d,
            F.col("lang") == "en",
            path,
            keep_features=True,
            doc_features=_dsir_features_t(spark, sf_dir),
        )
        out = _materialize(
            text.dsir_model_score(spark, path, d, k=100, doc_features=feats)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# the new-data DSIR oracle: the model is fitted on HALF the corpus
# (even doc_ids — the labeled sample), then the ODD half is scored
# against the frozen model. Buckets the training half never produced
# take the smoothing floor ((R+B)*1e6)//(T+B) — the LEFT join +
# coalesce, where the same-corpus oracle's inner join provably
# suffices — so the gate fails if a scorer ever silently drops
# unseen-bucket features (the r5 gotcha this path exists to pin).
_DSIR_NEW_ORACLE = (
    "WITH w AS (SELECT doc_id, lang, "
    "list_filter(string_split(text, ' '), x -> x != '') AS ws FROM documents), "
    "ix AS (SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM w "
    "WHERE len(ws) >= 2), "
    "f AS (SELECT doc_id, lang, "
    "CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8)) AS BIGINT) "
    "% 10007 AS bk FROM ix), "
    "raw AS (SELECT bk, CAST(count(*) AS BIGINT) AS rc, "
    "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc "
    "FROM f WHERE doc_id % 2 = 0 GROUP BY 1), "
    "tot AS (SELECT CAST(sum(rc) AS BIGINT) AS R, "
    "CAST(sum(tc) AS BIGINT) AS T FROM raw), "
    "m AS (SELECT bk, ((tc + 1) * (R + 10007) * 1000000) // "
    "((rc + 1) * (T + 10007)) AS ratio_micro FROM raw, tot), "
    "df_doc AS (SELECT doc_id, bk, CAST(count(*) AS BIGINT) AS k "
    "FROM f WHERE doc_id % 2 = 1 GROUP BY 1, 2), "
    "sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats, "
    "CAST(sum(k * coalesce(ratio_micro, "
    "(SELECT ((R + 10007) * 1000000) // (T + 10007) FROM tot))) // sum(k) "
    "AS BIGINT) AS dsir_micro "
    "FROM df_doc LEFT JOIN m USING (bk) GROUP BY 1) "
    "SELECT doc_id, n_feats, dsir_micro FROM sc "
    "ORDER BY dsir_micro DESC, doc_id LIMIT 100"
)


@register("docs_dsir_score_new", _DSIR_NEW_ORACLE)
def docs_dsir_score_new(spark, sf_dir):
    """The incremental-pipeline DSIR path: fit and persist the model
    on a labeled corpus sample (even doc_ids), then score a data drop
    the model has NEVER seen (odd doc_ids) against the frozen
    artifact. This is the path `dsir_model_write`'s meta row exists
    for — new data hashes into buckets the training sample never
    produced, and those features must take the stored Laplace
    smoothing floor rather than silently dropping from the scoring
    join (an inner join here loses features and reorders the top-k;
    the oracle's LEFT JOIN + coalesce(floor) fails the hash on any
    such drop). Unlike `docs_dsir_from_model` this genuinely
    featurizes the new data — there is no table to reuse."""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="dsir_new_gate_")
    try:
        # r11: both halves are parity filters of the session-shared
        # feature table (featurization is row-local, is_tgt is a doc
        # column — _dsir_features_t docstring); the scoring side's
        # extra is_tgt column is ignored by the scoring groupBy
        # (dsir_model_score's documented doc_features contract)
        feats = _dsir_features_t(spark, sf_dir)
        text.dsir_model_write(
            d.where(F.col("doc_id") % 2 == 0),
            F.col("lang") == "en",
            path,
            doc_features=feats.where(F.col("doc_id") % 2 == 0),
        )
        out = _materialize(
            text.dsir_model_score(
                spark,
                path,
                d.where(F.col("doc_id") % 2 == 1),
                k=100,
                doc_features=feats.where(F.col("doc_id") % 2 == 1),
            )
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def _recall_vs_exact(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Shared recall-audit tail: per query, how many of the exact
    top-k did the ANN index return. All-integer (hit counts and an
    exact percentage), so the whole audit hash-gates."""
    hits = ann.select("query_id", "vec_id", F.lit(1).alias("hit"))
    return (
        exact.select("query_id", "vec_id")
        .join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("CAST((n_hits * 100) div n_exact AS BIGINT)").alias("recall_pct"),
        )
        .orderBy("query_id")
    )


# shared recall-oracle pieces: exact brute-force ranking over the
# fixed 16-query audit sample, and the per-query hit aggregation —
# every ANN family's recall gate appends these to its own candidate
# chain (which must end at a `ranked` CTE)
_EXACT_RANK_CTES = (
    "esc AS (SELECT b.vec_id AS query_id, a.vec_id, "
    "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
    "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
    "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
    "FROM qv a CROSS JOIN qv b WHERE b.vec_id < 16 AND a.vec_id != b.vec_id), "
    "ekeyed AS (SELECT query_id, vec_id, CAST(CASE WHEN na = 0 OR nb = 0 "
    "THEN -1000000000001 ELSE (CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
    "((CAST(qd AS HUGEINT) * qd * 1000000000000) // "
    "(CAST(na AS HUGEINT) * nb)) END AS BIGINT) AS cos2_pico FROM esc), "
    "eranked AS (SELECT query_id, vec_id, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos2_pico DESC, vec_id) AS rank FROM ekeyed)"
)

_RECALL_TAIL = (
    " SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact, "
    "CAST(count(r.vec_id) AS BIGINT) AS n_hits, "
    "CAST((count(r.vec_id) * 100) // count(*) AS BIGINT) AS recall_pct "
    "FROM (SELECT query_id, vec_id FROM eranked WHERE rank <= 10) e "
    "LEFT JOIN (SELECT query_id, vec_id FROM ranked WHERE rank <= 10) r "
    "ON e.query_id = r.query_id AND e.vec_id = r.vec_id "
    "GROUP BY 1 ORDER BY 1"
)


@register(
    "emb_ann_recall_gate",
    "WITH " + _lsh_ann_ctes(8, "vec_id < 16") + ", "
    + _EXACT_RANK_CTES + _RECALL_TAIL,
)
def emb_ann_recall_gate(spark, sf_dir):
    """ANN quality as a GATED metric: recall@10 of the hyperplane-LSH
    index against the exact quantized-cosine top-10, per query, over
    a FIXED 16-query audit sample (vec_id < 16 — fixed so the exact
    side stays 16·n linear at any corpus size; the sample size is the
    audit dial). Every ANN deployment tracks recall; here the whole
    measurement — exact ranking, bucketed candidates, hit counts —
    is integer arithmetic inside the hash gate, so an engine change
    that silently degrades the index (different planes, wrong bucket
    math, dropped candidates) fails CORRECTNESS, not just a dashboard.
    Composes the two existing oracle-exact paths
    (`similarity.quantized_cosine_topk` / `quantized_lsh_ann_topk`);
    recall against FLOAT cosine stays property-tested in
    tests/test_operators.py."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 16)
    exact = similarity.quantized_cosine_topk(e, q, k=10)
    ann = similarity.quantized_lsh_ann_topk(
        e, q, dim=64, k=10, n=_emb_n(spark, sf_dir)
    )
    return _recall_vs_exact(exact, ann)


def _ivf_recall_oracle() -> str:
    """IVF twin of the LSH recall oracle: the shared candidate chain
    (training trajectory included) ranked with the quantized-cosine
    key, compared per query against the exact brute-force top-10."""
    parts = _ivf_cand_parts(16, 3, 4, query_pred="v.vec_id < 16")
    parts += [
        "sc AS (SELECT c.query_id, c.vec_id, "
        "list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
        "list_sum(list_transform(a.q, x -> x * x))::BIGINT AS na, "
        "list_sum(list_transform(b.q, x -> x * x))::BIGINT AS nb "
        "FROM cand c JOIN qv a ON c.vec_id = a.vec_id JOIN qv b ON c.query_id = b.vec_id)",
        "keyed AS (SELECT query_id, vec_id, CAST(CASE WHEN na = 0 OR nb = 0 "
        "THEN -1000000000001 ELSE (CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
        "((CAST(qd AS HUGEINT) * qd * 1000000000000) // (CAST(na AS HUGEINT) * nb)) "
        "END AS BIGINT) AS cos2_pico FROM sc)",
        "ranked AS (SELECT query_id, vec_id, cos2_pico, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos2_pico DESC, vec_id) AS rank FROM keyed)",
        _EXACT_RANK_CTES,
    ]
    return ", ".join(parts) + _RECALL_TAIL


@register("emb_ivf_recall_gate", _ivf_recall_oracle())
def emb_ivf_recall_gate(spark, sf_dir):
    """The IVF index's recall@10 vs exact top-10 over the same fixed
    16-query audit sample as `emb_ann_recall_gate` — with both ANN
    families (hash-bucketed LSH and trained-partition IVF)
    recall-gated, an index-quality regression in EITHER scale path
    fails CORRECTNESS. The oracle replays the full IVF pipeline
    (bounded-sample integer Lloyd training, cell assignment, probing)
    and the exact side in one query; n_probe=4 of 16 cells means
    recall is genuinely partial — the audit measures a real
    approximation, not a tautology."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 16)
    exact = similarity.quantized_cosine_topk(e, q, k=10)
    ann = similarity.quantized_ivf_ann_topk(
        e, q, dim=64, k=10, n_cells=16, iters=3, n_probe=4,
        sample_rows=_emb_train_sample(spark, sf_dir),
    )
    return _recall_vs_exact(exact, ann)


def _pq_recall_oracle() -> str:
    """PQ twin of the recall oracles: codebook training + corpus
    encoding + per-query ADC table (lut restricted to the 16-query
    audit sample), the brute ADC scan ranked, then the shared exact
    side and recall tail."""
    parts = _PQ_PREFIX + _pq_parts(16, 256, 3, 4, query_pred="f.vec_id < 16")
    parts += [
        "sc AS (SELECT l.query_id, e.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adc_dot "
        "FROM enc e JOIN lut l ON l.sp = e.sp AND l.code = e.code "
        "WHERE e.vec_id != l.query_id GROUP BY 1, 2)",
        "ranked AS (SELECT query_id, vec_id, adc_dot, row_number() OVER "
        "(PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rank FROM sc)",
        _EXACT_RANK_CTES,
    ]
    return ", ".join(parts) + _RECALL_TAIL


@register("emb_pq_recall_gate", _pq_recall_oracle())
def emb_pq_recall_gate(spark, sf_dir):
    """The third ANN family's recall audit: PQ ADC top-10 vs the exact
    quantized-cosine top-10 over the same fixed 16-query sample —
    LSH, IVF, and PQ index quality are now ALL hash-gated metrics.
    PQ's recall shortfall is compression loss (16 bytes/vector), the
    number a deployment weighs against the 16× memory-bandwidth win;
    the oracle replays codebook training, corpus encoding, and the
    ADC lookup for the audit queries."""
    from proglog_spark.operators import pq

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 16)
    exact = similarity.quantized_cosine_topk(e, q, k=10)
    ann = pq.quantized_pq_ann_topk(
        e, q, dim=64, k=10, m=16, n_codes=256, iters=3,
        sample_rows=_emb_train_sample(spark, sf_dir),
    ).select(F.col("query_id").cast("long").alias("query_id"), "vec_id")
    return _recall_vs_exact(exact, ann)


def _sq8_ctes(query_pred: str) -> str:
    """All-SQL replay of the SQ8 pipeline (`similarity.sq8_train` /
    `sq8_encode` / `quantized_sq8_ann_topk`): per-dim corpus min/max
    on the floor(x·1000) grid, uint8 codes with the same
    clamp+floor-division rule, exact integer dequantization
    (component · 255), and the ADC dot ranking — so even the
    quantization LOSS is reproduced bit-for-bit. Ends at ``ranked``
    (query_id, vec_id, sq8_dot, rank); defines ``qv`` for the shared
    exact-side CTEs. ``query_pred`` selects the query vectors (on
    alias ``b``)."""
    return (
        "qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
        "sdims AS (SELECT unnest(range(1, 65)) AS i), "
        "smm AS (SELECT i, min(q[i]) AS mn, max(q[i]) AS mx "
        "FROM qv CROSS JOIN sdims GROUP BY i), "
        "sml AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx "
        "FROM smm), "
        "scq AS (SELECT vec_id, list_transform(range(1, 65), i -> "
        "CASE WHEN mx[i] = mn[i] THEN 0 ELSE "
        "least(greatest(((q[i] - mn[i]) * 255) // (mx[i] - mn[i]), 0), 255) "
        "END) AS c, mn, mx FROM qv CROSS JOIN sml), "
        "sdq AS (SELECT vec_id, list_transform(range(1, 65), i -> "
        "mn[i] * 255 + c[i] * (mx[i] - mn[i])) AS d FROM scq), "
        "ssc AS (SELECT b.vec_id AS query_id, a.vec_id, "
        "list_sum(list_transform(range(1, 65), i -> a.d[i] * b.d[i]))::BIGINT "
        f"AS sq8_dot FROM sdq a CROSS JOIN sdq b WHERE {query_pred} "
        "AND a.vec_id != b.vec_id), "
        "ranked AS (SELECT query_id, vec_id, sq8_dot, row_number() OVER "
        "(PARTITION BY query_id ORDER BY sq8_dot DESC, vec_id) AS rank FROM ssc)"
    )


@register(
    "emb_sq8_ann_topk",
    "WITH " + _sq8_ctes(f"b.vec_id IN {_QUERY_VECS}")
    + " SELECT query_id, vec_id, sq8_dot, rank FROM ranked "
    "WHERE rank <= 10 ORDER BY query_id, rank",
)
def emb_sq8_ann_topk(spark, sf_dir):
    """Scalar-quantized (SQ8) similarity top-k — the fourth ANN
    family (LSH, IVF, PQ, now SQ8): per-dim uint8 codes give 8×
    memory compression, and at serving scale the exhaustive scan is
    memory-bandwidth-bound, so smaller codes ≈ proportionally faster
    scans (the trade every vector store's 'scalar quantization' tier
    sells). Scoring dots the exact integer DEQUANTIZATIONS
    (asymmetric ADC with the zero-point restored), so the
    approximation is deterministic and the oracle replays it
    bit-for-bit — quantization loss included. One training reduce +
    broadcast, one encode projection, one corpus pass."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    return similarity.quantized_sq8_ann_topk(e, q, dim=64, k=10).orderBy(
        "query_id", "rank"
    )


@register(
    "emb_sq8_index_topk",
    "WITH " + _sq8_ctes(f"b.vec_id IN {_QUERY_VECS}")
    + " SELECT query_id, vec_id, sq8_dot, rank FROM ranked "
    "WHERE rank <= 10 ORDER BY query_id, rank",
)
def emb_sq8_index_topk(spark, sf_dir):
    """The PERSISTENT-INDEX path for SQ8 inside the hash gate —
    completing the train-once/score-forever family (BM25 postings,
    IVF centroids, DSIR model, now SQ8 codes): `sq8_index_write`
    persists the uint8 code table + the one-row training grid,
    `sq8_index_topk` answers from the FROZEN artifact (stored codes
    dequantized against the stored grid; corpus floats never
    re-read), and the oracle is IDENTICAL to `emb_sq8_ann_topk`'s —
    so index staleness, a lost code row, or grid drift between write
    and read all fail CORRECTNESS. At 10^10 vectors the code table
    is the only corpus-scale artifact, 8× smaller than the floats."""
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2))
    path = tempfile.mkdtemp(prefix="sq8_index_gate_")
    try:
        similarity.sq8_index_write(e, path, dim=64)
        out = _materialize(
            similarity.sq8_index_topk(spark, path, q, k=10).orderBy(
                "query_id", "rank"
            )
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


@register(
    "emb_sq8_recall_gate",
    "WITH " + _sq8_ctes("b.vec_id < 16") + ", "
    + _EXACT_RANK_CTES + _RECALL_TAIL,
)
def emb_sq8_recall_gate(spark, sf_dir):
    """The fourth ANN family's recall audit: SQ8 dequantized-dot
    top-10 vs the exact quantized-cosine top-10 over the same fixed
    16-query sample — LSH, IVF, PQ, and SQ8 index quality are now
    ALL hash-gated metrics. SQ8's recall shortfall is pure
    quantization loss (256 levels per dim), the number a deployment
    weighs against the 8× scan-bandwidth win; the oracle replays
    training bounds, encoding, and the reconstruction dot for the
    audit queries."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 16)
    exact = similarity.quantized_cosine_topk(e, q, k=10)
    ann = similarity.quantized_sq8_ann_topk(e, q, dim=64, k=10)
    return _recall_vs_exact(exact, ann)


@register(
    "emb_truncated_dim_overlap",
    "WITH qv AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings), "
    "dims AS (SELECT unnest([8, 16, 32, 64]) AS dim), "
    "sc AS (SELECT d.dim, b.vec_id AS query_id, a.vec_id, "
    "list_sum(list_transform(range(1, d.dim + 1), i -> a.q[i] * b.q[i]))::BIGINT AS qd, "
    "list_sum(list_transform(range(1, d.dim + 1), i -> a.q[i] * a.q[i]))::BIGINT AS na, "
    "list_sum(list_transform(range(1, d.dim + 1), i -> b.q[i] * b.q[i]))::BIGINT AS nb "
    "FROM qv a CROSS JOIN qv b CROSS JOIN dims d "
    "WHERE b.vec_id < 16 AND a.vec_id != b.vec_id), "
    "keyed AS (SELECT dim, query_id, vec_id, CAST(CASE WHEN na = 0 OR nb = 0 "
    "THEN -1000000000001 ELSE (CASE WHEN qd < 0 THEN -1 ELSE 1 END) * "
    "((CAST(qd AS HUGEINT) * qd * 1000000000000) // "
    "(CAST(na AS HUGEINT) * nb)) END AS BIGINT) AS cos2_pico FROM sc), "
    "r AS (SELECT dim, query_id, vec_id, row_number() OVER "
    "(PARTITION BY dim, query_id ORDER BY cos2_pico DESC, vec_id) AS rn FROM keyed) "
    "SELECT t.query_id, CAST(t.dim AS BIGINT) AS dim, "
    "t.vec_id AS top1_trunc, f.vec_id AS top1_full, "
    "t.vec_id = f.vec_id AS is_same "
    "FROM (SELECT * FROM r WHERE rn = 1 AND dim < 64) t "
    "JOIN (SELECT query_id, vec_id FROM r WHERE rn = 1 AND dim = 64) f "
    "ON t.query_id = f.query_id ORDER BY t.query_id, dim",
)
def emb_truncated_dim_overlap(spark, sf_dir):
    """Matryoshka-style truncation audit (Kusupati et al. 2022): does
    the top-1 neighbor survive truncating embeddings to a prefix of
    8/16/32 dims? The measurement every dimension-reduction decision
    (cheaper ANN, coarse IVF routing, MRL serving tiers) starts from —
    and the audit that PQ/IVF parameter choices in this repo get
    judged against. Exact quantized-cosine top-1 at each prefix dim
    vs the full 64 dims over the fixed 16-query audit sample (same
    linear 16·n posture as the recall gate; slicing commutes with the
    per-component floor(x·1000) quantization, so Spark slicing raw
    vectors and the oracle slicing quantized lists agree exactly)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < 16)

    def top1(d: int) -> DataFrame:
        c_d = e.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        q_d = q.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        return similarity.quantized_cosine_topk(c_d, q_d, k=1).select(
            "query_id", F.col("vec_id").alias("top1")
        )

    full = top1(64).withColumnRenamed("top1", "top1_full")
    trunc = None
    for d in (8, 16, 32):
        t = top1(d).select(
            "query_id", F.lit(d).cast("long").alias("dim"),
            F.col("top1").alias("top1_trunc"),
        )
        trunc = t if trunc is None else trunc.unionByName(t)
    return (
        trunc.join(full, "query_id")
        .select(
            "query_id", "dim", "top1_trunc", "top1_full",
            (F.col("top1_trunc") == F.col("top1_full")).alias("is_same"),
        )
        .orderBy("query_id", "dim")
    )


# ---------------------------------------------------------------------------
# r8 second wave: data placement (rendezvous sharding, Z-order layout),
# declarative quality audit, exact-integer weighted sampling, and
# perceptual video scene segmentation (operators/placement.py,
# operators/audit.py, operators/sampling.ppswor_bottom_k)
# ---------------------------------------------------------------------------


@register(
    "docs_shard_assignment",
    "WITH s AS (SELECT doc_id, i AS shard, "
    "CAST(('0x' || substr(md5('hrw:' || CAST(i AS VARCHAR) || ':' "
    "|| CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS score "
    "FROM documents CROSS JOIN (SELECT unnest(range(17)) AS i) ii), "
    "a16 AS (SELECT doc_id, arg_max(shard, score) AS sh FROM s "
    "WHERE shard < 16 GROUP BY 1), "
    "a17 AS (SELECT doc_id, arg_max(shard, score) AS sh17 FROM s GROUP BY 1), "
    "g AS (SELECT a16.sh AS shard, count(*) AS n_docs, "
    "sum(CASE WHEN a17.sh17 = 16 THEN 1 ELSE 0 END) AS n_moved "
    "FROM a16 JOIN a17 ON a16.doc_id = a17.doc_id GROUP BY 1) "
    "SELECT CAST(shard AS BIGINT) AS shard, CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(floor(1000000.0 * n_docs / sum(n_docs) OVER ()) AS BIGINT) "
    "AS pct_micro, CAST(n_moved AS BIGINT) AS n_moved "
    "FROM g ORDER BY shard",
)
def docs_shard_assignment(spark, sf_dir):
    """Rendezvous (HRW) shard assignment for the ingest/writer tier —
    operators/placement.rendezvous_shard. Each doc's owning shard is
    argmax over 16 salted md5 scores, computed as ONE codegen'd
    projection (array_max over (score, shard) structs — no explode, no
    window, no shuffle); the only exchange is the 16-row count agg.
    The query also MEASURES the property that makes HRW the right
    placement function: re-deriving the argmax with a 17th shard added
    shows exactly the ~1/17 of each shard's keys that move (n_moved) —
    under modulo hashing nearly every key would move. Scale: placement
    is per-row map work; a 1000-writer fleet computes it inline at
    write time with zero coordination (no directory service, no
    rebalance job). Reference parity: scale-out analog of the
    reference's offset->segment routing (internal/log/log.go) — the
    decision "which physical home owns this key" made pure and stable.
    """
    from proglog_spark.operators import placement

    d = load_table(spark, sf_dir, "documents")
    assigned = d.select(
        placement.rendezvous_shard(F.col("doc_id"), 16).alias("shard"),
        placement.rendezvous_shard(F.col("doc_id"), 17).alias("shard17"),
    )
    g = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("shard17") == 16).cast("long")).alias("n_moved"),
    )
    return g.select(
        "shard",
        "n_docs",
        F.floor(
            F.lit(1000000.0)
            * F.col("n_docs")
            / F.sum("n_docs").over(Window.partitionBy())
        )
        .cast("long")
        .alias("pct_micro"),
        "n_moved",
    ).orderBy("shard")


@register(
    "docs_replica_placement",
    "WITH s AS (SELECT doc_id, i AS shard, "
    "CAST(('0x' || substr(md5('hrw:' || CAST(i AS VARCHAR) || ':' "
    "|| CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS score "
    "FROM documents CROSS JOIN (SELECT unnest(range(16)) AS i) ii), "
    "r AS (SELECT doc_id, shard, row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, shard DESC) AS rn FROM s) "
    "SELECT CAST(shard AS BIGINT) AS shard, "
    "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_primary, "
    "CAST(sum(CASE WHEN rn = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_replica "
    "FROM r WHERE rn <= 2 GROUP BY shard ORDER BY shard",
)
def docs_replica_placement(spark, sf_dir):
    """Primary + replica ownership under rendezvous hashing — the
    top-2 of the same per-key HRW score table `docs_shard_assignment`
    takes the argmax of (operators/placement.rendezvous_scores; the
    docstring's advertised rank use). The replica is the
    SECOND-highest score, which inherits every HRW property: it is
    never the primary (distinct shards by construction), it is stable
    under shard-set growth (only keys whose top-2 involve the new
    shard move), and when the primary dies its keys' replicas are
    ALREADY spread across all other shards — no rebalance storm, the
    property a mod-N replica scheme ((h+1) mod N) lacks. Plan: one
    codegen'd array_sort projection per row (no window, no per-key
    shuffle), a 2-element role explode, one 16-row agg. Reference
    parity: the placement analog of the reference's Raft replication
    (internal/log/distributed.go — O26/O27): who OWNS the second copy,
    decided purely and locally."""
    from proglog_spark.operators import placement

    d = load_table(spark, sf_dir, "documents")
    ranked = F.array_sort(placement.rendezvous_scores(F.col("doc_id"), 16))
    pr = d.select(
        F.element_at(ranked, -1).getField("shard").alias("p"),
        F.element_at(ranked, -2).getField("shard").alias("r"),
    )
    roles = pr.select(
        F.explode(
            F.array(
                F.struct(F.col("p").alias("shard"), F.lit(1).alias("is_p")),
                F.struct(F.col("r").alias("shard"), F.lit(0).alias("is_p")),
            )
        ).alias("x")
    ).select("x.shard", "x.is_p")
    return (
        roles.groupBy("shard")
        .agg(
            F.sum("is_p").cast("long").alias("n_primary"),
            F.sum(F.lit(1) - F.col("is_p")).cast("long").alias("n_replica"),
        )
        .orderBy("shard")
    )


@register(
    "events_zorder_layout",
    "WITH b AS (SELECT (user_id & 255) AS ub, "
    "CAST(least(255, floor(value / 2)) AS BIGINT) AS vb FROM events "
    "WHERE user_id IS NOT NULL AND value IS NOT NULL AND value >= 0), "
    "z AS (SELECT ub, vb, CAST(list_sum(list_transform(range(8), k -> "
    "(((ub >> k) & 1) << (2 * k)) + (((vb >> k) & 1) << (2 * k + 1)))) "
    "AS BIGINT) AS zv FROM b) "
    "SELECT CAST(zv >> 10 AS BIGINT) AS file_id, "
    "CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(min(ub) AS BIGINT) AS min_ub, CAST(max(ub) AS BIGINT) AS max_ub, "
    "CAST(min(vb) AS BIGINT) AS min_vb, CAST(max(vb) AS BIGINT) AS max_vb "
    "FROM z GROUP BY 1 ORDER BY 1",
)
def events_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout keys for multi-dimensional data
    skipping — operators/placement.zorder_key. Both dimensions are
    bucketed to 8 bits (user bucket = low byte of user_id; value
    bucket = floor(value/2) clamped — /2 is exact IEEE scaling, so the
    bucket is bit-identical cross-engine), interleaved into a 16-bit
    Morton code, and cut into 64 files of contiguous z-ranges
    (file_id = z >> 10). The emitted per-file min/max of EACH
    dimension are the zone maps a scan prunes on: under z-layout both
    spans are ~width/8 per file, so a predicate on EITHER dimension
    touches ~1/8 of files — a linear (single-column-sorted) layout
    gives that pruning on one dimension and NONE on the other. The
    whole key is codegen'd bit arithmetic (no UDF); the only shuffle
    is the 64-row stats agg — in a real writer the sort-by-z replaces
    the write-side repartition the pipeline already pays. Reference
    parity: the layout-for-pruning generalization of the reference's
    per-segment index file (internal/log/index.go) from one dimension
    (offset) to two."""
    from proglog_spark.operators import placement

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
    )
    b = e.select(
        F.col("user_id").bitwiseAND(F.lit(255)).alias("ub"),
        F.least(F.lit(255), F.floor(F.col("value") / 2)).cast("long").alias("vb"),
    )
    z = b.select(
        "ub", "vb", placement.zorder_key(F.col("ub"), F.col("vb"), bits=8).alias("zv")
    )
    return (
        z.groupBy(F.shiftright("zv", 10).cast("long").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("vb").alias("min_vb"),
            F.max("vb").alias("max_vb"),
        )
        .orderBy("file_id")
    )


@register(
    "docs_constraint_audit",
    "WITH m AS (SELECT "
    "CAST(floor(1000000.0 * sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 "
    "END) / count(*)) AS BIGINT) AS completeness_text, "
    "CAST(floor(1000000.0 * count(DISTINCT doc_id) / count(doc_id)) "
    "AS BIGINT) AS uniqueness_doc_id, "
    "CAST(floor(1000000.0 * sum(CASE WHEN lang IN ('en','de','fr','es','zh') "
    "THEN 1 ELSE 0 END) / count(lang)) AS BIGINT) AS lang_in_set, "
    "CAST(min(n_chars) AS BIGINT) AS min_n_chars, "
    "CAST(floor(avg(n_chars)) AS BIGINT) AS mean_n_chars, "
    "CAST(floor(1000000.0 * sum(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 "
    "END) / count(*)) AS BIGINT) AS completeness_source "
    "FROM documents) "
    # every verdict is coalesce(..., FALSE): a NULL metric (empty
    # input) must FAIL the constraint on both engines — bare `NULL >=
    # bound` is NULL in SQL while the Spark side is NULL-strict false
    "SELECT check_name, observed, passed FROM ("
    "SELECT 'completeness_text' AS check_name, completeness_text AS observed, "
    "coalesce(completeness_text >= 990000, FALSE) AS passed FROM m "
    "UNION ALL SELECT 'uniqueness_doc_id', uniqueness_doc_id, "
    "coalesce(uniqueness_doc_id >= 1000000, FALSE) FROM m "
    "UNION ALL SELECT 'lang_in_allowed_set', lang_in_set, "
    "coalesce(lang_in_set >= 950000, FALSE) FROM m "
    "UNION ALL SELECT 'min_n_chars', min_n_chars, "
    "coalesce(min_n_chars >= 1, FALSE) FROM m "
    "UNION ALL SELECT 'mean_n_chars_band', mean_n_chars, "
    "coalesce(mean_n_chars >= 50 AND mean_n_chars <= 100000, FALSE) FROM m "
    "UNION ALL SELECT 'completeness_source', completeness_source, "
    "coalesce(completeness_source >= 990000, FALSE) FROM m) t "
    "ORDER BY check_name",
)
def docs_constraint_audit(spark, sf_dir):
    """Declarative data-quality audit (the Deequ motif) —
    operators/audit.audit. Six constraints over the documents drop
    (text/source completeness, doc_id uniqueness, lang set membership,
    min and mean length bands) are declared as (name, metric, lo, hi)
    and verified in ONE aggregation pass: all six backing metrics ride
    a single partial-agg tree (map-side combine, one exchange — N
    constraints never means N scans), then explode into per-constraint
    verdict rows. Ratios are micro fixed-point so verdicts hash
    identically cross-engine. This is the ingest gate a training
    pipeline runs on every incoming drop BEFORE dedup/selection; at
    100 TB it costs exactly one pass over the scan it already pays.
    Reference parity: generalizes the reference's fail-loudly config
    validation (internal/server/server.go option checks) from config
    to data."""
    from proglog_spark.operators import audit as _audit

    d = load_table(spark, sf_dir, "documents")
    checks = [
        (
            "completeness_text",
            _audit.completeness_micro(F.col("text")),
            990000,
            None,
        ),
        (
            "uniqueness_doc_id",
            _audit.uniqueness_micro(F.col("doc_id")),
            1000000,
            None,
        ),
        (
            "lang_in_allowed_set",
            _audit.membership_micro(F.col("lang"), ("en", "de", "fr", "es", "zh")),
            950000,
            None,
        ),
        ("min_n_chars", F.min("n_chars"), 1, None),
        ("mean_n_chars_band", F.floor(F.avg("n_chars")), 50, 100000),
        (
            "completeness_source",
            _audit.completeness_micro(F.col("source")),
            990000,
            None,
        ),
    ]
    return _audit.audit(d, checks)


@register(
    "docs_weighted_sample",
    "WITH w AS (SELECT doc_id, 1 + coalesce(n_chars, 0) // 64 AS weight "
    "FROM documents WHERE coalesce(n_chars, 0) >= 0), "
    "t AS (SELECT doc_id, weight, unnest(range(weight)) AS i FROM w), "
    "h AS (SELECT doc_id, weight, CAST(('0x' || substr(md5('ws:' || "
    "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15)) "
    "AS BIGINT) AS th FROM t), "
    "m AS (SELECT doc_id, weight, min(th) AS ticket FROM h GROUP BY 1, 2), "
    "k AS (SELECT doc_id AS key, weight, ticket FROM m "
    "ORDER BY ticket, key LIMIT 100) "
    "SELECT key, CAST(weight AS BIGINT) AS weight, ticket, "
    "CAST(row_number() OVER (ORDER BY ticket, key) AS BIGINT) AS rank "
    "FROM k ORDER BY rank",
)
def docs_weighted_sample(spark, sf_dir):
    """Length-weighted sampling WITHOUT replacement (PPSWOR bottom-k)
    — operators/sampling.ppswor_bottom_k. Sampling 100 docs with
    probability ~ document length is the quality-weighted subset step
    of a data-selection pipeline; the exact-integer bottom-k scheme
    (min of `weight` md5 tickets per doc; see the operator docstring
    for why not Efraimidis-Spirakis floats) makes the draw
    reproducible AND oracle-checkable bit-for-bit. Plan shape: the
    ticket explode is linear in total weight (weights quantized to
    1 + n_chars/64, so ~rows x 9 at this fixture), the per-doc min
    partial-aggregates map-side, and the global top-100 is
    TakeOrderedAndProject (per-partition heaps — no full sort, no
    single-partition window until the 100-row final ranking)."""
    d = load_table(spark, sf_dir, "documents").where(
        F.coalesce(F.col("n_chars"), F.lit(0)) >= 0
    )
    weighted = d.select(
        "doc_id",
        (F.lit(1) + F.coalesce(F.col("n_chars"), F.lit(0)) / F.lit(64))
        .cast("long")
        .alias("w"),
    )
    return sampling.ppswor_bottom_k(
        weighted, key_col="doc_id", weight_col="w", k=100, salt="ws"
    ).orderBy("rank")


def _shot_frame_raster(w):
    """72-byte frame raster from a 9-char shot window: 8 rows, row r =
    the window rotated left by r characters (mirrors _SHOT_DHASH_CTES'
    tb — a 2-D raster whose rows differ, so the frame hash carries 64
    independent bits instead of 8 repeated ones). Spark's substring
    clamps like DuckDB's substr, so short final windows agree too."""
    rows = [w]
    for r in range(1, 8):
        rows.append(F.concat(F.substring(w, r + 1, 9), F.substring(w, 1, r)))
    return F.concat(*rows)


# Shot-structured frame synthesis for scene segmentation: each 9-char
# window of the document is a 3-frame SHOT (the 72-byte frame is the
# window repeated 8x — identical frames inside a shot, content change
# at shot boundaries), which is the temporal structure real video has
# and the flat 72-byte chunking lacks (measured: EVERY consecutive
# chunk pair sits >= 19 Hamming bits apart at sf0.01, so a chunk-based
# scene query degenerates to n_scenes == n_frames and its cut
# threshold discriminates nothing). The dHash math is shared with
# _FRAME_DHASH_CTES verbatim (string-sliced from "b AS" so the bit
# rule stays single-sourced).
_SHOT_DHASH_CTES = (
    "f AS (SELECT doc_id, unnest(range(0, "
    "3 * CAST(ceil(length(text) / 9.0) AS BIGINT))) AS k, text "
    "FROM documents WHERE text IS NOT NULL AND length(text) > 0), "
    "tb0 AS (SELECT doc_id, k, "
    "substr(text, CAST((k // 3) * 9 + 1 AS BIGINT), 9) AS w FROM f), "
    # the 72-byte frame is the window's 8 cyclic row rotations (a real
    # 2-D raster: rows differ, so the two 32-bit hash words decouple —
    # a repeated-row frame would make lo == hi identically and blind
    # the gate to word-pairing bugs)
    "tb AS (SELECT doc_id, k, w "
    "|| substr(w, 2) || substr(w, 1, 1) || substr(w, 3) || substr(w, 1, 2) "
    "|| substr(w, 4) || substr(w, 1, 3) || substr(w, 5) || substr(w, 1, 4) "
    "|| substr(w, 6) || substr(w, 1, 5) || substr(w, 7) || substr(w, 1, 6) "
    "|| substr(w, 8) || substr(w, 1, 7) AS t FROM tb0), "
    + _FRAME_DHASH_CTES[
        _FRAME_DHASH_CTES.index("b AS (SELECT doc_id, k, length(t)") :
    ]
)


# Shared scene-id pipeline (oracle side): shot frames -> per-frame
# dHash -> per-clip LAG cut detection -> running scene ids. Both the
# segmentation accounting and the keyframe selection consume it.
_SCENE_CTES = (
    _SHOT_DHASH_CTES
    + ", lagd AS (SELECT doc_id, k, lo, hi, "
    "lag(lo) OVER (PARTITION BY doc_id ORDER BY k) AS plo, "
    "lag(hi) OVER (PARTITION BY doc_id ORDER BY k) AS phi FROM dh), "
    "cuts AS (SELECT doc_id, k, CASE WHEN plo IS NULL THEN 1 "
    "WHEN bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) >= 12 "
    "THEN 1 ELSE 0 END AS cut FROM lagd), "
    "scenes AS (SELECT doc_id, k, sum(cut) OVER (PARTITION BY doc_id "
    "ORDER BY k ROWS UNBOUNDED PRECEDING) AS scene_id FROM cuts)"
)


def _shot_frame_hashes(spark, sf_dir) -> DataFrame:
    """The scene pipeline's hash table: (doc_id, k, simhash_lo,
    simhash_hi) per shot frame — the shot synthesis + one decode pass
    + dHash, shared by the batch LAG segmentation AND the streaming
    engine's source. r11: decode + hash run fused (decode_dhash64,
    bit-identical to dhash64∘decode_media) so the 72-int pixel grid
    never crosses the Python→JVM boundary, and the DataFrame handle
    is memoized (_memo_df) so the seven-consumer family analyzes this
    subtree once per session instead of once per reference."""

    def build():
        from proglog_spark.multimodal import decode_dhash64

        d = load_table(spark, sf_dir, "documents").where(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        k = F.col("k")
        frames = d.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(3) * F.ceil(F.length("text") / F.lit(9.0)).cast("long")
                    - 1,
                )
            ).alias("k"),
            "text",
        ).select(
            F.when(
                k < F.lit(1 << 20),
                F.col("doc_id") * F.lit(1 << 20).cast("long") + k,
            )
            .otherwise(
                F.raise_error(F.lit("frame index >= 2^20 would alias frame_uid"))
            )
            .alias("frame_uid"),
            F.encode(
                _shot_frame_raster(
                    F.substring(
                        F.col("text"),
                        ((k / F.lit(3)).cast("long") * 9 + 1).cast("int"),
                        F.lit(9),
                    )
                ),
                "UTF-8",
            ).alias("payload"),
        )
        return decode_dhash64(frames, id_col="frame_uid").select(
            F.shiftright("id", 20).alias("doc_id"),
            (F.col("id") % F.lit(1 << 20)).alias("k"),
            "simhash_lo",
            "simhash_hi",
        )

    # cached: four longs per frame (~16 MB at sf0.1 — the 10^4x-smaller
    # fingerprint tier, never the frames), and all scene-family
    # consumers share the memoized handle, so Spark's cache manager
    # serves callers 2..n from the first materialization (measured:
    # 11.2 s -> 1.8 s at sf0.01) — the same session-scoped reuse as
    # _doc_gram_sets / the dedup shingle caches. .cache() re-applies
    # at every call so a clearCache() (cold-attribution mode)
    # re-registers the entry exactly as the rebuild-per-call code did.
    return _memo_df(spark, sf_dir, "shot_frame_hashes", build).cache()


def _scene_frame_ids(spark, sf_dir) -> DataFrame:
    """Spark twin of _SCENE_CTES: (doc_id, k, scene_id) per shot
    frame. One decode pass, per-clip windows, hash-only shuffles —
    see docs_video_scene_cuts for the full posture notes. The
    segmentation itself (LAG cut detection at SCENE_CUT_BITS, running
    scene ids) is single-sourced in multimodal/frameindex.py so the
    direct path and the persisted-fingerprint path can never drift."""
    from proglog_spark.multimodal.frameindex import scene_ids_from_hashes

    return scene_ids_from_hashes(_shot_frame_hashes(spark, sf_dir))


@register(
    "docs_video_scene_cuts",
    "WITH " + _SCENE_CTES
    + ", sl AS (SELECT doc_id, scene_id, count(*) AS slen FROM scenes "
    "GROUP BY 1, 2) "
    "SELECT doc_id, CAST(sum(slen) AS BIGINT) AS n_frames, "
    "CAST(count(*) AS BIGINT) AS n_scenes, "
    "CAST(max(slen) AS BIGINT) AS longest_scene "
    "FROM sl GROUP BY doc_id ORDER BY doc_id",
)
def docs_video_scene_cuts(spark, sf_dir):
    """Perceptual scene-cut detection over sampled video frames — the
    keyframe-segmentation step a video training pipeline runs before
    captioning/sampling (pick one representative frame per scene
    instead of N-per-second everywhere). Clips are synthesized with
    real temporal structure — every 9-char document window is a
    3-frame SHOT (identical frames within, content change at
    boundaries; see _SHOT_DHASH_CTES for why flat chunking
    degenerates) — then segmented with the gate-verified per-frame
    dHash + a per-clip LAG: a frame opens a new scene iff it is the
    clip's first or its dHash sits >= 12 Hamming bits from its
    predecessor (within-shot repeats run 0 bits; hard content changes
    ~32; similar neighboring windows — slow pans — merge shots into
    longer scenes, making longest_scene a real signal). Scene ids are
    a running sum of cut flags; output is per-clip scene accounting
    (n_frames, n_scenes, longest_scene). Scale posture: the shuffle
    carries (doc_id, k, two 32-bit words) — never frame payloads;
    both windows partition by clip (no global window), and the
    per-scene reduce is a narrow two-key agg. A deployment feeds real
    keyframe rasters through register_image_decoder and this stage is
    unchanged."""
    scenes = _scene_frame_ids(spark, sf_dir)
    sl = scenes.groupBy("doc_id", "scene_id").agg(
        F.count(F.lit(1)).alias("slen")
    )
    return (
        sl.groupBy("doc_id")
        .agg(
            F.sum("slen").alias("n_frames"),
            F.count(F.lit(1)).alias("n_scenes"),
            F.max("slen").alias("longest_scene"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_scene_keyframes",
    "WITH " + _SCENE_CTES
    + " SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id, "
    "CAST(min(k) AS BIGINT) AS start_k, "
    "CAST(count(*) AS BIGINT) AS scene_len, "
    "CAST(min(k) + (count(*) - 1) // 2 AS BIGINT) AS keyframe_k "
    "FROM scenes GROUP BY doc_id, scene_id ORDER BY doc_id, scene_id",
)
def docs_scene_keyframes(spark, sf_dir):
    """Keyframe selection — the consumer of scene segmentation: one
    representative frame per scene (its MIDDLE frame — first frames
    straddle the cut and are the worst representative; scenes are
    contiguous k-runs so the middle is min(k) + (len-1)/2 with no
    second window pass). This is the step that turns N-per-second
    video into the captioning/embedding work list of a multimodal
    training pipeline: downstream decodes |scenes| frames instead of
    |frames| (at sf0.01: 15.9k instead of 50.4k). Shares the entire
    scene-id pipeline with docs_video_scene_cuts (`_scene_frame_ids` /
    `_SCENE_CTES` — one decode pass, per-clip windows, hash-only
    shuffles); the selection itself is one narrow two-key agg."""
    scenes = _scene_frame_ids(spark, sf_dir)
    return (
        scenes.groupBy("doc_id", F.col("scene_id").cast("long").alias("scene_id"))
        .agg(
            F.min("k").alias("start_k"),
            F.count(F.lit(1)).alias("scene_len"),
            (F.min("k") + F.floor((F.count(F.lit(1)) - 1) / 2))
            .cast("long")
            .alias("keyframe_k"),
        )
        .orderBy("doc_id", "scene_id")
    )


@register(
    "docs_scene_cuts_from_index",
    # answered from the FROZEN fingerprint artifact — must hash-match
    # the direct decode path, so the oracle is docs_video_scene_cuts's
    "WITH " + _SCENE_CTES
    + ", sl AS (SELECT doc_id, scene_id, count(*) AS slen FROM scenes "
    "GROUP BY 1, 2) "
    "SELECT doc_id, CAST(sum(slen) AS BIGINT) AS n_frames, "
    "CAST(count(*) AS BIGINT) AS n_scenes, "
    "CAST(max(slen) AS BIGINT) AS longest_scene "
    "FROM sl GROUP BY doc_id ORDER BY doc_id",
)
def docs_scene_cuts_from_index(spark, sf_dir):
    """Scene segmentation from a PERSISTED frame-fingerprint index —
    the train-once/score-forever tier for the video family (VERDICT-r8
    #3), completing the pattern next to BM25 postings, IVF centroids,
    and SQ8 codes: `frame_fingerprint_write` freezes (doc_id, k,
    simhash_lo, simhash_hi) parquet — 4 longs/frame, clip-clustered,
    ~10^3x smaller than the frames — and `scene_cuts_from_index`
    answers with NO payload column anywhere in its plan (decode is an
    ingest-time cost, paid once per corpus, not once per experiment).
    The oracle is IDENTICAL to docs_video_scene_cuts's, so a stale
    artifact, a lost fingerprint row, or drift between the single-
    sourced segmentation (frameindex.scene_ids_from_hashes) and its
    SQL twin all fail CORRECTNESS. At 100 TB this is the posture:
    threshold sweeps and keyframe-policy experiments re-scan ~1 MB per
    video-hour instead of re-decoding ~1 GB."""
    import shutil
    import tempfile

    from proglog_spark.multimodal.frameindex import (
        frame_fingerprint_write,
        scene_cuts_from_index,
    )

    path = tempfile.mkdtemp(prefix="frame_fingerprint_gate_")
    try:
        frame_fingerprint_write(_shot_frame_hashes(spark, sf_dir), path)
        out = _materialize(scene_cuts_from_index(spark, path))
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


@register(
    "docs_scene_threshold_sweep",
    "WITH " + _SHOT_DHASH_CTES
    + ", lagd AS (SELECT doc_id, k, lo, hi, "
    "lag(lo) OVER (PARTITION BY doc_id ORDER BY k) AS plo, "
    "lag(hi) OVER (PARTITION BY doc_id ORDER BY k) AS phi FROM dh), "
    "dist AS (SELECT doc_id, k, CASE WHEN plo IS NULL THEN NULL "
    "ELSE bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) END AS d "
    "FROM lagd), "
    "t AS (SELECT unnest([8, 12, 16, 20]) AS threshold) "
    "SELECT CAST(threshold AS BIGINT) AS threshold, "
    "CAST(sum(CASE WHEN d IS NULL OR d >= threshold THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_scenes, "
    "CAST(count(*) AS BIGINT) AS n_frames, "
    "CAST(floor(1000000.0 * count(*) / "
    "sum(CASE WHEN d IS NULL OR d >= threshold THEN 1 ELSE 0 END)) "
    "AS BIGINT) AS mean_scene_len_micro "
    "FROM dist CROSS JOIN t GROUP BY threshold ORDER BY threshold",
)
def docs_scene_threshold_sweep(spark, sf_dir):
    """Cut-threshold sensitivity sweep over the FROZEN fingerprint
    artifact — the experiment the persisted tier exists to make cheap:
    before committing a keyframe budget, a pipeline tunes cut_bits by
    sweeping candidate thresholds and reading corpus scene counts /
    mean scene lengths. One window pass computes every consecutive-
    frame Hamming distance from the 4-long fingerprint table (no
    payload anywhere downstream of the one-time artifact build), the
    threshold explode multiplies only (doc_id, distance) rows, and
    the whole 4-threshold sweep is ONE aggregate — vs four full
    decode+segment pipeline runs without the artifact. Fixture
    non-degeneracy verified up front: the four thresholds land on
    four distinct scene totals (15966/15885/14268/14262 at sf0.01),
    so a threshold-comparison bug cannot hide behind a flat fixture."""
    import shutil
    import tempfile

    from proglog_spark.multimodal.frameindex import (
        frame_fingerprint_read,
        frame_fingerprint_write,
        scene_count_sweep,
    )

    path = tempfile.mkdtemp(prefix="frame_fingerprint_sweep_")
    try:
        frame_fingerprint_write(_shot_frame_hashes(spark, sf_dir), path)
        out = _materialize(
            scene_count_sweep(
                frame_fingerprint_read(spark, path), [8, 12, 16, 20]
            )
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


@register(
    "docs_scene_cuts_streamed",
    # the streamed engine must hash-match the BATCH segmentation —
    # same oracle as docs_video_scene_cuts
    "WITH " + _SCENE_CTES
    + ", sl AS (SELECT doc_id, scene_id, count(*) AS slen FROM scenes "
    "GROUP BY 1, 2) "
    "SELECT doc_id, CAST(sum(slen) AS BIGINT) AS n_frames, "
    "CAST(count(*) AS BIGINT) AS n_scenes, "
    "CAST(max(slen) AS BIGINT) AS longest_scene "
    "FROM sl GROUP BY doc_id ORDER BY doc_id",
)
def docs_scene_cuts_streamed(spark, sf_dir):
    """Scene segmentation through the REAL stateful streaming engine —
    the round's ONE new streamed gate, and a genuinely new
    state-machine kind: the cut rule is CONTENT-dependent (Hamming
    distance between consecutive frame hashes), so the carried state
    is a per-clip SCENE PIECE — boundary hashes + head/tail run
    lengths — whose merge is the associative algebra of a segmented
    tree-reduce (streaming/scenes.py; 3000-split fold equivalence is
    property-tested). The fixture's frame hashes stream in TWO
    micro-batches split at each clip's median frame index (per-clip
    k-order preserved across batches — the at-least-once-then-ordered
    contract a frame extractor provides), a +30-day sentinel advances
    the watermark so every clip's event-time timeout fires, and the
    emitted set must hash-match the batch LAG oracle — the stateful
    convergence contract. Bucketed state groups (64 clip buckets,
    same O(buckets)-invocations recipe as the sessionizer)."""
    import datetime

    from proglog_spark.streaming.scenes import streaming_scene_segments

    base_s = 1_600_000_000
    sk = _shot_frame_hashes(spark, sf_dir).select(
        "doc_id",
        "k",
        "simhash_lo",
        "simhash_hi",
        F.timestamp_seconds(F.lit(base_s) + F.col("k")).alias("ts"),
    )
    mid = sk.groupBy("doc_id").agg(
        F.floor(F.max("k") / 2).alias("mid_k")
    )
    # ADVICE-r8 guard: ts = base + k, so after batch 1 the GLOBAL
    # watermark sits at base + max(mid_k) - 7200 s — a clip longer
    # than ~2x the fixed "2 hours" delay would push it past a SHORT
    # clip's batch-2 frame times and the engine would SILENTLY drop
    # those as late (an undercount the gate only catches at that
    # scale). Fail loudly at half the unsafe bound instead: a corpus
    # that trips this needs the delay derived from max(k), not a
    # bigger constant. ADVICE-r9: the guard runs BEFORE halves.cache()
    # — raising between cache() and the finally that owns unpersist()
    # leaked the cached decode pipeline for the session lifetime. The
    # one-row agg over sk is still cheap: _shot_frame_hashes caches
    # its 4-long fingerprint table session-wide.
    max_k = sk.agg(F.max("k").alias("mk")).first()["mk"]
    if max_k is not None and max_k > 7200:
        raise ValueError(
            f"scene stream: max frame index {max_k} > 7200 — the fixed "
            "'2 hours' watermark delay no longer dominates the frame-"
            "time span; derive the delay from max(k) before scaling"
        )
    # cached: the two half-writes would otherwise each re-run the
    # whole decode+hash pipeline. The owning try/finally opens on the
    # very next statement — the batch-1 write, the temp dirs, and the
    # stream setup are all Spark jobs / filesystem calls that can
    # raise, so every line after cache() runs under the finally that
    # unpersists (the full ADVICE-r9 leak fix; the first cut only
    # moved the guard)
    halves = sk.join(mid, "doc_id").cache()
    try:
        with _StreamGate(spark, sf_dir, "documents") as gate:
            feed = gate.path("frames")
            cols = ["doc_id", "k", "simhash_lo", "simhash_hi", "ts"]
            halves.where(F.col("k") <= F.col("mid_k")).select(*cols).write.mode(
                "append"
            ).parquet(feed)
            schema = (
                "doc_id LONG, k LONG, simhash_lo LONG, simhash_hi LONG, "
                "ts TIMESTAMP"
            )
            # the second wave: the second half plus the watermark
            # sentinel clip. The sentinel rides INSIDE the second-half
            # write: a separate sentinel file was probed in r12
            # (driver-side pyarrow write) and REVERTED — the file
            # source discovers it in its own listing moment, adding a
            # micro-batch (interleaved A/B read batches 5->6 and
            # ~+1-2 s trigger time), and a sentinel-only batch ahead of
            # late-arriving second-half files would late-drop them at
            # wm+30d
            sentinel_ts = datetime.datetime.fromtimestamp(
                base_s, datetime.timezone.utc
            ) + datetime.timedelta(days=30)
            second = halves.where(F.col("k") > F.col("mid_k")).select(*cols).unionByName(
                spark.createDataFrame([(_SENTINEL_KEY, 0, 0, 0, sentinel_ts)], schema)
            )
            # watermark delay must exceed the whole frame-time SPAN:
            # ts = base + k, so after batch 1 the GLOBAL watermark sits
            # at (base + longest clip's mid-k - delay) — with a short
            # delay that is already past a SHORT clip's batch-2 frame
            # times and the engine drops them as late (observed: 3
            # clips undercounted at sf0.001 with delay "1 minute").
            # Clips span <= ~1200 frame-seconds; "2 hours" clears any
            # fixture scale while the +30-day sentinel still seals
            segments = streaming_scene_segments(
                # the second wave lands as a subdirectory of the feed
                spark.readStream.schema(schema)
                .option("recursiveFileLookup", "true")
                .parquet(feed),
                gap_seconds=3600,
                watermark="2 hours",
            )

            def second_wave():
                # staged, then moved in with one rename: a Spark write
                # commits its files one by one, and a listing taken
                # mid-commit could split the wave (5 batches, or the
                # sentinel ahead of second-half files that it then
                # drops as late)
                import os

                staged = gate.path("wave2")
                second.write.parquet(staged)
                os.rename(staged, os.path.join(feed, "wave2"))

            out = gate.run(gate.memory(segments, "scene_streamed").start, second_wave)
    finally:
        halves.unpersist()
    return out.where(F.col("doc_id") != _SENTINEL_KEY).orderBy("doc_id")


def _scene_pair_counts(spark, sf_dir):
    """Shared-scene clip pairs: (doc_a, doc_b, shared_scenes,
    scenes_a, scenes_b) — the single-sourced pair stage under BOTH
    `docs_video_shared_scenes` and the cross-modality
    `docs_av_dedup_verdicts` report (r11; single-sourcing keeps a
    mutation to the pair rule visible to both gates, the same
    discipline as the `_frame_cut_flags` cut rule).

    Hub cap + per-doc signature count folded in as a window, then
    CACHED — the Spark twin of the oracle's `kw AS MATERIALIZED`:
    kw is read four times downstream (self-join sides, each also
    containing the hub-cap aggregate of sigs), and without the
    cache each read re-runs the window+md5 stage over the
    fingerprint table. One row per kept multi-shot signature
    (~KBs), session-lifetime like _shot_frame_hashes' table, and
    byte-identical plans let repeat invocations (and the second
    consumer query) ride it too."""
    from proglog_spark.multimodal.frameindex import scene_signatures

    def build_kw():
        sigs = (
            scene_signatures(_shot_frame_hashes(spark, sf_dir), min_len=4)
            .select("doc_id", "sig")
            .distinct()
        )
        return cap_hubs(sigs, ["sig"], "doc_id", 64, "nsig")

    # cached: reused by both consumer queries' self-join sides (see
    # docstring — session-lifetime, one row per kept signature,
    # reclaimable via spark.catalog.clearCache(); the memoized handle
    # additionally makes the signature chain ANALYZE once per session,
    # and .cache() re-applies per call so clearCache re-registers)
    kw = _memo_df(spark, sf_dir, "scene_kw", build_kw).cache()
    return (
        blocked_pairs(kw, ["sig"], id_col="doc_id", ids=("doc_a", "doc_b"), carry=["nsig"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared_scenes"),
            F.min("nsig_a").alias("scenes_a"),
            F.min("nsig_b").alias("scenes_b"),
        )
    )


# Single-sourced oracle text for the shared-scene PAIR stage (sc2 →
# prs), consumed by BOTH docs_video_shared_scenes and the r11
# cross-modality docs_av_dedup_verdicts — string factoring only, the
# concatenated oracle of the former is byte-identical to its r10 text.
# sc2 re-derives scene ids FROM lagd carrying the hash words
# through (the _SCENE_CTES `scenes` CTE drops them, and joining
# scenes back to dh doubles the decode chain — at sf0.01 that
# OOMs a spill-less in-memory DuckDB, the driver's shape). The
# cut rule text matches _SCENE_CTES verbatim so this gate's own
# 12->40 threshold mutation rewrites BOTH copies consistently
# (tools/gate_mutations.py). ssig/kw are MATERIALIZED: each
# is tiny (one row per scene / per kept signature) and each is
# what the multi-referenced downstream reads, so the expensive
# chain runs exactly once.
_SCENE_PAIR_SQL = (
    ", sc2 AS (SELECT doc_id, k, lo, hi, "
    "sum(CASE WHEN plo IS NULL THEN 1 "
    "WHEN bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) >= 12 "
    "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY k "
    "ROWS UNBOUNDED PRECEDING) AS scene_id FROM lagd), "
    "ssig AS MATERIALIZED (SELECT doc_id, "
    "md5(string_agg(CAST(lo AS VARCHAR) || ':' || CAST(hi AS VARCHAR), "
    "',' ORDER BY k)) AS sig "
    "FROM sc2 GROUP BY doc_id, scene_id HAVING count(*) >= 4), "
    "sset AS (SELECT DISTINCT doc_id, sig FROM ssig), "
    "sfr AS (SELECT sig FROM sset GROUP BY sig HAVING count(*) <= 64), "
    "kw AS MATERIALIZED (SELECT s.doc_id, s.sig, "
    "count(*) OVER (PARTITION BY s.doc_id) AS nsig "
    "FROM sset s JOIN sfr USING (sig)), "
    "prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "count(*) AS shared, min(a.nsig) AS na, min(b.nsig) AS nb "
    "FROM kw a JOIN kw b "
    "ON a.sig = b.sig AND a.doc_id < b.doc_id GROUP BY 1, 2) "
)


@register(
    "docs_video_shared_scenes",
    "WITH " + _SCENE_CTES
    + _SCENE_PAIR_SQL
    + "SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_scenes, "
    "CAST(na AS BIGINT) AS scenes_a, "
    "CAST(nb AS BIGINT) AS scenes_b, "
    "CAST(floor(1000000.0 * shared / least(na, nb)) AS BIGINT) "
    "AS containment_micro "
    "FROM prs ORDER BY doc_a, doc_b",
)
def docs_video_shared_scenes(spark, sf_dir):
    """Cross-clip near-dup retrieval at SCENE granularity — the
    VERDICT-r9 #8 sanctioned retry of the r9 probed-and-rejected
    keyframe gate, gated the honest way: per-frame radius matching is
    promiscuous on this fixture (~96% of clip pairs matched at
    Hamming radius 3), and even exact per-scene min/max aggregates
    still matched 95% of pairs, so the signature is the ORDER-
    SENSITIVE md5 of each multi-shot scene's full frame-hash sequence
    (frameindex.scene_signatures, min_len=4 — degeneracy probed FIRST
    in DuckDB: 1036 of 124750 pairs at sf0.001, 950 of ~12.5M at
    sf0.01, max signature frequency 12).

    Output: clip pairs sharing >= 1 multi-shot scene, with shared /
    per-clip distinct-signature counts and floor-fixed-point scene
    containment — the "same footage spliced into both clips" report a
    video-dedup pipeline feeds its keep-list from (reference parity:
    the reference stores opaque clip payloads, log.proto:8; shared-
    scene retrieval is the analytics tier on top).

    Scale shape: signatures ride the session-cached 4-long fingerprint
    table (one windowed pass, clip-keyed shuffles of hash words only);
    the pair stage is an exact-match equi-join on the 32-char
    signature — never an all-pairs product — with the same
    hub-frequency cap as the dedup blocking engines (signatures in
    > 64 clips are boilerplate/intro footage and are dropped BEFORE
    the join, bounding any bucket at 64^2 pairs; a no-op on this
    fixture, load-bearing at 100 TB)."""
    return (
        _scene_pair_counts(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            "shared_scenes",
            "scenes_a",
            "scenes_b",
            F.floor(
                F.lit(1_000_000)
                * F.col("shared_scenes")
                / F.least("scenes_a", "scenes_b")
            )
            .cast("long")
            .alias("containment_micro"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "docs_av_dedup_verdicts",
    "WITH " + _SCENE_CTES
    + _SCENE_PAIR_SQL
    # ahm materializes the per-doc audio hash once: ah is referenced
    # four times below and re-evaluating its list-transform chain per
    # reference is the spill-less in-memory DuckDB trap (r10 gotcha);
    # spa likewise — tiny (one row per scene pair) but referenced by
    # both the report union and the anti-join.
    + ", " + _AHASH_CTES
    + ", ahm AS MATERIALIZED (SELECT * FROM ah), "
    "spa AS MATERIALIZED (SELECT p.doc_a, p.doc_b, "
    "p.shared AS shared_scenes, "
    "bit_count(xor(a.ahash_lo, b.ahash_lo)) + "
    "bit_count(xor(a.ahash_hi, b.ahash_hi)) AS audio_hamming "
    "FROM prs p JOIN ahm a ON a.doc_id = p.doc_a "
    "JOIN ahm b ON b.doc_id = p.doc_b), "
    "apr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "bit_count(xor(a.ahash_lo, b.ahash_lo)) + "
    "bit_count(xor(a.ahash_hi, b.ahash_hi)) AS audio_hamming "
    "FROM ahm a JOIN ahm b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.ahash_lo, b.ahash_lo)) + "
    "bit_count(xor(a.ahash_hi, b.ahash_hi)) <= 3), "
    "aonly AS (SELECT apr.doc_a, apr.doc_b, 0 AS shared_scenes, "
    "apr.audio_hamming FROM apr ANTI JOIN spa "
    "ON spa.doc_a = apr.doc_a AND spa.doc_b = apr.doc_b), "
    "rep AS (SELECT * FROM spa UNION ALL SELECT * FROM aonly) "
    "SELECT doc_a, doc_b, "
    "CAST(shared_scenes AS BIGINT) AS shared_scenes, "
    "CAST(audio_hamming AS BIGINT) AS audio_hamming, "
    "CASE WHEN shared_scenes > 0 AND audio_hamming <= 3 "
    "THEN 'confirmed' WHEN shared_scenes > 0 THEN 're_dubbed' "
    "ELSE 'audio_only' END AS verdict "
    "FROM rep ORDER BY doc_a, doc_b",
)
def docs_av_dedup_verdicts(spark, sf_dir):
    """Cross-MODALITY curation join (VERDICT-r10 #3): every clip pair
    flagged by EITHER perceptual tier, classified by whether the
    video and audio verdicts agree — `confirmed` (shared multi-shot
    scene AND audio fingerprints within the registered radius-3
    near-dup rule: true duplicates), `re_dubbed` (same footage
    spliced into both clips but different soundtracks — the pair a
    keep-one dedup policy must NOT collapse blindly, since the audio
    tracks are distinct assets), `audio_only` (same soundtrack under
    different footage — reused score/narration). Degeneracy-probed
    FIRST in DuckDB (FIXTURES §5): all three classes populated at
    both probe SFs (19/1017/11 at sf0.001, 19/931/13 at sf0.01), and
    the audio-hamming distribution over scene pairs is bimodal with
    an empty 2..11 gap, so the radius-3 verdict threshold sits in a
    wide margin, not on fixture noise.

    Zero new decode: the video side rides `_scene_pair_counts` (the
    single-sourced pair stage under docs_video_shared_scenes, cached
    signature table + session-cached fingerprint table) and the audio
    side rides `_audio_fingerprints` (cached here; `hamming_pairs`
    blocking reuses the same 3-long-per-doc feed). Scale shape: the
    scene-pair table and the radius-3 audio-pair table are BOTH
    outputs of hub-capped blocking joins (bounded, pair-count-sized
    — never all-pairs); the verdict stage joins those small pair
    tables against the thin per-doc fingerprint table on doc id
    (shuffles carry ids + two longs) and unions — no stage touches
    payloads, so the report costs two already-gated retrievals plus
    pair-sized joins at any corpus size (reference parity: the
    reference stores opaque clip payloads, api/v1/log.proto:8; the
    cross-modality report is the curation tier on top)."""
    from proglog_spark.operators import dedup

    # one row per doc, 3 longs — session-cached like the scene kw
    # table; the a/b join sides and the blocking feed all ride it
    fp = _audio_fingerprints(spark, sf_dir).cache()
    scene = _scene_pair_counts(spark, sf_dir).select(
        "doc_a", "doc_b", "shared_scenes"
    )
    # cached (r11): spa is one row per scene pair (pair-count-sized)
    # and is read TWICE below — the report union side and the
    # audio_only anti-join side; without the cache the whole
    # scene⋈audio join subtree runs twice. Session-scoped, tiny,
    # reclaimable via spark.catalog.clearCache().
    spa = join_payload(scene, fp, ("doc_a", "doc_b")).select(
        "doc_a",
        "doc_b",
        "shared_scenes",
        (
            F.bit_count(F.col("simhash_lo_a").bitwiseXOR(F.col("simhash_lo_b")))
            + F.bit_count(F.col("simhash_hi_a").bitwiseXOR(F.col("simhash_hi_b")))
        )
        .cast("long")
        .alias("audio_hamming"),
    ).cache()
    # r11: the radius-3 blocking pair table is the shared audio-tier
    # cache (_audio_hamming3_pairs) — built once per session for this
    # gate and docs_audio_perceptual_neardup together
    apr = _audio_hamming3_pairs(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("long").alias("audio_hamming"),
    )
    aonly = apr.join(
        spa.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    ).select(
        "doc_a",
        "doc_b",
        F.lit(0).cast("long").alias("shared_scenes"),
        "audio_hamming",
    )
    return (
        spa.unionByName(aonly)
        .select(
            "doc_a",
            "doc_b",
            "shared_scenes",
            "audio_hamming",
            F.when(
                (F.col("shared_scenes") > 0) & (F.col("audio_hamming") <= 3),
                F.lit("confirmed"),
            )
            .when(F.col("shared_scenes") > 0, F.lit("re_dubbed"))
            .otherwise(F.lit("audio_only"))
            .alias("verdict"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# public accessors (consumed by __spark_entry__)
# ---------------------------------------------------------------------------


# The round driver's correctness gate only samples a fixed-size PREFIX
# of the dict returned by queries(); to rotate fresh queries into the
# driver's window each round, names already covered by a past driver
# CORRECTNESS artifact are grouped below BY THE ROUND OF THEIR LATEST
# GREEN CHECK and emitted oldest-checked-first after the priority /
# never-checked groups — so stale greens re-verify before recent ones
# (VERDICT-r5 item 5 rotation hygiene). A name whose implementation,
# oracle, or operator-module dependencies change after its last check
# MUST move out of its group and into _WINDOW_PRIORITY (the re-check
# rule). As of r6 this rule is MECHANICAL, not conventional: each
# checked name's dependency-closure digest is recorded in
# driver_check_manifest.json at check-recording time, and
# tests/test_entry_contract.py fails if any checked name's current
# digest drifts from the manifest without an eviction
# (tools/digest_manifest.py computes the closure: query source +
# oracle SQL + referenced proglog_spark module/helper sources).
# AUDIT NOTE (ADVICE-r8 rule), r11 module-closure re-records: 21
# checked names spanning the groups below (docs_bpe_token_stats,
# docs_bpe_train_merges, docs_constraint_audit, docs_epoch_shuffle,
# docs_heavy_terms_sketch, docs_length_quantiles,
# docs_length_quantiles_sketch, docs_replica_placement,
# docs_shard_assignment, emb_cosine_topk, emb_dot_topk, emb_pca_power,
# emb_semantic_dedup, emb_sq8_ann_topk, emb_sq8_index_topk,
# emb_sq8_recall_gate, emb_truncated_dim_overlap, events_decile_value,
# events_user_value_percentiles, events_zorder_layout,
# tpch_bloom_filter_join) were re-RECORDED after the r11 optimization
# round extended similarity.py/pq.py trainer signatures with an
# optional pre-collected ``sample_rows`` pass-through (default None =
# the old self-collecting path). None of these 21 queries' own code or
# called-operator behavior changed — the drift is the conservative
# module-closure digest — and each was re-proven green against its
# DuckDB oracle at sf0.001 at record time (21/21). The 12 emb queries
# whose call sites DID change were evicted instead (see
# _WINDOW_PRIORITY).
# AUDIT NOTE (r12, ADVICE-r11 fixes): the sources/tables.py handle-memo
# re-key (session-object key + clear_handle_memo() hook — analysis
# plumbing, same immutable scan DataFrames) drifted every checked
# name's closure again (142), exactly like the r11 wave-8 note below;
# all were re-RECORDED after a fresh 203/203 green sf0.001 sweep run
# against the edited code. No call sites changed, so no evictions.
# AUDIT NOTE (r12): the dedup.hamming_pairs rework (sketch words ride
# the block explode; verify join-backs removed — identical pair set by
# construction) drifted the dedup-module closure of 26 checked names.
# The two that CALL hamming_pairs (docs_simhash_neardup,
# docs_simhash_decontamination) were EVICTED; the other 24 (their own
# code and called operators untouched) were re-RECORDED after a fresh
# 203/203 green sf0.001 sweep run against the edited code.
# AUDIT NOTE (r11 wave 8): the sources/tables.py load_table
# handle-memo edit (analysis-time DataFrame handle reuse — no
# behavior change; returns the same immutable scan DataFrame) drifted
# the closure of every checked name (144); all were re-RECORDED after
# a fresh 203/203 green sf0.001 sweep run AGAINST the edited code at
# record time. No call sites changed, so no wave-8 evictions.
_CHECKED_BY_ROUND: tuple[tuple[str, tuple[str, ...]], ...] = (
    # (the former 34-name r5 remnant was fully re-verified by the r10
    # window — CORRECTNESS_r10 50/50 green — and moved to the r10 group
    # below; no r5-checked name remains)
    # CORRECTNESS_r06 window remnant: the 26 names whose LATEST green
    # check is still r6 (the r10 window re-verified the cohort's
    # 12-name head — the events_* batch/streamed pairs + docs_hash_
    # sample — which moved to the r10 group below; this remnant LEADS
    # the r11 refill per rotation hygiene)
    # (docs_simhash_neardup was evicted into _WINDOW_PRIORITY by the
    # r12 hamming_pairs carry-the-words rework; see the eviction
    # comment there)
    ("r6", (
        "docs_fingerprint",
        "docs_lang_id", "docs_median_length",
        "docs_quality",
        "docs_stratified_sample", "docs_text_stats", "docs_token_stats",
        "emb_exact_dup", "emb_norm_stats",
        "tpch_q1_pricing", "tpch_q3_shipping",
        "tpch_q5_nation_revenue",
        "docs_lm_transition_score",
    )),
    # CORRECTNESS_r07 window: 50/50 green — the 2 ADVICE-r6 evictions,
    # the whole former r3 cohort (39), and the r4 head (9)
    ("r7", (
        "events_cms_user_counts", "events_cms_merge",
        "events_cms_join_estimate",
        "tpch_q6_forecast",
        "tpch_q18_big_orders", "tpch_q4_late_orders", "tpch_q2_top_supplier",
        "tpch_q14_promo_share", "tpch_q16_supplier_variety",
        "tpch_salted_priority_revenue",
        "events_heavy_users", "events_cube_counts", "events_pivot_counts",
        "events_trailing_hour_count", "events_rollup_counts",
        "tpch_q12_priority_lines", "tpch_q13_custdist", "tpch_q16_part_suppliers",
        "tpch_q17_small_qty_revenue", "tpch_q19_disjunctive",
        "tpch_q22_idle_customers", "tpch_q10_returned_revenue",
        "events_gap_stats", "events_first_last_touch",
        "events_same_day_conversion", "docs_top_terms", "tpch_q7_volume_shipping",
        "tpch_q8_market_share", "tpch_q9_product_profit", "tpch_q15_top_supplier",
        "tpch_q20_promo_shippers",
        "tpch_q21_last_shipper", "events_retention_cohorts",
        "events_funnel_conversion", "events_value_histogram",
        "events_daily_active", "events_pareto_users", "docs_bigram_counts",
    )),
    # CORRECTNESS_r08 window: 50/50 green — all 50 names below were
    # RE-VERIFIED by the driver's side-by-side hash compare in r8 (not
    # re-recorded-as-behavior-preserving; the ADVICE-r8 auditability
    # distinction): the 11 media-closure evictions forced by the
    # `media._ensure_python_stage_parallelism` body edit, the 17 r8
    # additions (PNG round-trip, perceptual video containment, audio
    # fingerprint/near-dup/envelope-top-k, SQ8 trio, SimHash
    # decontamination, placement/replica/z-order/audit/weighted-sample,
    # scene cuts/keyframes/streamed-scenes), and 22 refills from the
    # oldest (r4) cohort.
    # (the whole media/scene closure — 19 of the original 50 — was
    # evicted into _WINDOW_PRIORITY by the r9 media.py node-class-walk
    # edit and the scene-pipeline refactor; see the eviction comment)
    # (docs_simhash_decontamination: evicted into _WINDOW_PRIORITY by
    # the r12 hamming_pairs rework, next to its r6 self-mode twin)
    ("r8", (
        # (emb_sq8_index_topk: evicted into _WINDOW_PRIORITY by the r12
        # _materialize localCheckpoint rework)
        "docs_source_dedup_stats", "docs_repetition_stats", "docs_contamination",
        "docs_train_split", "events_unpivot_extremes", "events_props_map_explode",
        "events_halves_full_outer",
        "docs_pii_redaction", "events_markov_transitions",
        "docs_udtf_ngrams", "tpch_q11_important_parts", "lineitem_profile",
        "events_value_moments", "docs_fuzzy_block_match", "events_minute_gapfill",
        "emb_label_centroids", "docs_pack_sequences", "docs_tfidf_top_terms",
        "docs_weighted_mixture", "docs_curation_pipeline",
    )),
    # CORRECTNESS_r09 window: 50/50 green — all 50 names below were
    # RE-VERIFIED by the driver's side-by-side hash compare in r9 (not
    # re-recorded): the 20-name media/scene closure evicted by the r9
    # node-class-walk + scene-refactor edits (incl. the PPSWOR-guard
    # eviction docs_weighted_sample), the 2 r9 additions
    # (docs_scene_cuts_from_index, docs_scene_threshold_sweep), the
    # whole 17-name r4 remnant, and the r5 cohort's 11-name head (the
    # log L-surface + events_hourly_counts).
    # (3 of the 50 — docs_scene_cuts_from_index, docs_scene_threshold_
    # sweep, docs_scene_cuts_streamed — were immediately RE-evicted
    # into _WINDOW_PRIORITY by the r10 ADVICE-r9 fixes and are NOT
    # listed here; see the _WINDOW_PRIORITY comment.)
    # AUDIT NOTE (ADVICE-r8 rule): the media/scene-closure digests
    # below were recorded AFTER two r10 behavior-preserving edits —
    # media._SHUFFLE_NODE_NAMES gained the pyspark-cogroup/typed-
    # groupByKey node names (changes the widening guard only for
    # plans containing those nodes; no registered query's decode
    # input produces one) and frameindex.frame_fingerprint_read
    # gained artifact validation (only the two evicted index-path
    # gates call it). These names are re-RECORDED against the edited
    # source; the r9 driver check verified the pre-edit behavior,
    # which is identical for every name listed here.
    # (docs_video_scene_cuts / docs_scene_keyframes additionally
    # re-recorded twice in r10: first after the APPEND-ONLY
    # frameindex.scene_signatures addition, then after the review
    # refactor that single-sources the LAG cut rule into
    # frameindex._frame_cut_flags — behavior-preserving by
    # construction (scene_ids_from_hashes emits the identical plan)
    # and re-proven by green sf0.001 hash checks at record time.)
    ("r9", (
        "docs_media_meta",
        "docs_weighted_sample",
        "docs_incremental_dedup", "events_trailing_anomaly", "events_rolling_wau",
        "orders_bucket_ranks",
        "orders_calendar_profile", "events_nullsafe_match",
        "events_grouping_sets", "docs_recursive_ancestry", "events_variant_props",
        "events_out_of_order_audit",
        "events_type_value_quantiles",
        "log_read_point", "log_bounds", "log_scan_range", "log_tail",
        "log_consume_from", "log_truncate_view", "log_read_out_of_range",
        "log_json_roundtrip", "log_servers", "log_acl_check",
        "events_hourly_counts",
    )),
    # CORRECTNESS_r10 window: 50/50 green — all 50 names below were
    # RE-VERIFIED by the driver's side-by-side hash compare in r10
    # (not re-recorded): the 3 ADVICE-r9 re-verify evictions
    # (docs_scene_cuts_from_index / docs_scene_threshold_sweep /
    # docs_scene_cuts_streamed), the r10 addition
    # docs_video_shared_scenes (first driver check), the whole
    # 34-name r5 remnant, and the r6 cohort's 12-name head (the
    # events batch/streamed pairs + docs_hash_sample).
    # AUDIT NOTE (ADVICE-r8 rule): docs_scene_keyframes /
    # docs_video_scene_cuts / docs_video_shared_scenes were re-RECORDED
    # in r11 after the ADVICE-r10 frame_fingerprint_read edit (the
    # validation read now sets mergeSchema so multi-file artifact
    # drift is caught) — none of the three calls
    # frame_fingerprint_read, so their behavior is unchanged by
    # construction; the two index-path gates that DO call it
    # (docs_scene_cuts_from_index, docs_scene_threshold_sweep) were
    # evicted into _WINDOW_PRIORITY for driver re-verification instead.
    # docs_video_shared_scenes additionally re-RECORDED in r11 after
    # the refactor that extracts its pair stage into
    # _scene_pair_counts and its oracle pair text into
    # _SCENE_PAIR_SQL (both now shared with the r11
    # docs_av_dedup_verdicts gate) — behavior-preserving by
    # construction (the concatenated oracle string is byte-identical
    # to the r10 text, md5 61c996e4..., and the emitted plan is the
    # same DataFrame chain moved verbatim into the helper), re-proven
    # by a green sf0.001 hash check at record time.
    # (docs_repeated_span_dedup: evicted into _WINDOW_PRIORITY by the
    # r12 md5-keyed gram shuffle rework)
    ("r10", (
        "docs_tokenize_ids", "docs_chunk_spans",
        "docs_rarity_filter", "docs_source_scorecard",
        "docs_sql_tvf_tokens", "events_bitmap_distinct",
        "events_halves_bag_ops",
        "events_hll_rollup_gate", "events_journey_segments",
        "events_sql_udf_buckets", "events_type_day_matrix",
        "events_type_pagerank", "tpch_lateral_top_customers",
        "events_sliding_counts",
        "docs_hash_sample",
        "events_approx_distinct", "events_asof_order",
        "events_attribution_window", "events_extremes", "events_inactive_users",
        "events_json_sum", "events_running_count", "events_sessionize",
        "events_user_topk",
    )),
)
# (r11 wave-4 evictions removed from the groups above:
# docs_lm_interpolated from r6; docs_lm_quality_filter, docs_bm25_topk,
# docs_bm25_decontamination from r7; docs_bm25_index_topk from r10 —
# see the wave-4 block in _WINDOW_PRIORITY. r11 wave-6 evictions:
# docs_dsir_selection, docs_dsir_from_model, docs_dsir_score_new from
# r6 — see the wave-6 block. r11 wave-7 evictions: docs_dedup_clusters,
# docs_dedup_keepers, docs_neardup_jaccard from r6;
# docs_cluster_safe_split from r7; docs_minhash_estimate_gate from r9
# — see the wave-7 block.)

_DRIVER_CHECKED: frozenset[str] = frozenset(
    n for _, grp in _CHECKED_BY_ROUND for n in grp
)


# r11 window: evictions forced by this round's edits (the digest test
# enforces each), then any never-driver-checked additions, then the
# oldest-checked names (the 26-name r6 remnant leads the refill,
# followed by the oldest r7 names — VERDICT-r10 task 1).
# The 2 names below are re-VERIFY evictions, not re-records
# (ADVICE-r8 auditability rule), forced by the ADVICE-r10 BEHAVIORAL
# fix: frame_fingerprint_read's validation read now sets mergeSchema
# so a multi-file artifact where only SOME part-files drifted fails
# loudly instead of passing single-footer inference and nulling out —
# these are the only two registered queries that read the artifact.
_WINDOW_PRIORITY: list[str] = [
    # blocked-pairs core evictions (re-VERIFY): operators/pairs.py now
    # builds every dedup/similarity pair set, which drifts the dedup
    # and similarity module closures. docs_minhash_lsh and
    # docs_containment_dedup call ported operators; the other 21 only
    # share the modules. All 203 queries were re-proven green at
    # sf0.001 + sf0.01 before commit.
    "docs_minhash_lsh", "docs_containment_dedup",
    "docs_bpe_token_stats", "docs_bpe_train_merges", "docs_constraint_audit",
    "docs_dedup_exact", "docs_epoch_shuffle", "docs_heavy_terms_sketch",
    "docs_length_quantiles", "docs_length_quantiles_sketch",
    "docs_replica_placement", "docs_shard_assignment", "docs_simhash",
    "emb_cosine_topk", "emb_dot_topk", "emb_pca_power", "emb_sq8_ann_topk",
    "emb_sq8_recall_gate", "emb_truncated_dim_overlap", "events_decile_value",
    "events_user_value_percentiles", "events_zorder_layout",
    "tpch_bloom_filter_join",
    "docs_scene_cuts_from_index",
    "docs_scene_threshold_sweep",
    # r12 OPTIMIZATION evictions (re-VERIFY, not re-record): the two
    # driver-checked CALL SITES of dedup.hamming_pairs, whose internals
    # changed — the sketch words now ride the block explode so
    # candidates verify inline and the two per-side join-backs
    # disappear (guide §2.4; identical pair set + hamming by
    # construction, re-proven green vs the DuckDB oracle at
    # sf0.001+sf0.01 before commit). The other seven consumers
    # (image/video/audio/multimodal/av) were already in this list from
    # the r11 evictions. The 24 names drifted only through the dedup
    # MODULE closure were re-RECORDED after a fresh 203/203 green
    # sf0.001 sweep against the edited code (AUDIT NOTE above).
    "docs_simhash_neardup", "docs_simhash_decontamination",
    # r12 eviction (re-VERIFY): _materialize now pins results via
    # localCheckpoint(eager=True) instead of collect+createDataFrame
    # (identical rows, partition order preserved); emb_sq8_index_topk
    # is its one driver-checked consumer — the other seven were
    # already in this list. Re-proven green at sf0.001 before commit.
    "emb_sq8_index_topk",
    # r12 eviction (re-VERIFY): docs_repeated_span_dedup now shuffles
    # md5(gram) keys (oracle UNCHANGED — 128-bit-hash grouping equals
    # string grouping, the docs_dedup_exact idiom), computes n_spans
    # arithmetically, and flags offenders via min!=max instead of
    # countDistinct. Re-proven green at sf0.001 + sf0.01 before commit.
    "docs_repeated_span_dedup",
    # r11 OPTIMIZATION evictions (re-VERIFY, not re-record): the 28
    # names below drifted because the r11 performance work edited
    # their dependency closure — the fused decode_dhash64 stage +
    # shared _slice_mean_pixels decode core (media.py closure: the
    # whole image/audio/video/scene family), the _memo_df plan-handle
    # memo on the shared scene/audio helpers, the shared
    # _audio_hamming3_pairs pair cache, and the input-size-derived
    # _stream_state_partitions width on every streamed gate. Each
    # change is behavior-preserving by construction and locally
    # re-proven green against the DuckDB oracle at sf0.001+sf0.01
    # before commit (OPTIMIZATION_r11.md), but per the re-check rule
    # the driver must re-VERIFY them side-by-side, so they lead the
    # r11 window instead of staying in their checked groups.
    "docs_audio_energy_topk", "docs_audio_fingerprint",
    "docs_audio_perceptual_neardup", "docs_audio_wav_roundtrip",
    "docs_frame_sample", "docs_image_dedup_incremental",
    "docs_image_dedup_keepers", "docs_image_dhash",
    "docs_image_feature_topk", "docs_image_neardup",
    "docs_image_png_roundtrip", "docs_media_pipeline",
    "docs_multimodal_curation", "docs_scene_cuts_streamed",
    "docs_scene_keyframes", "docs_video_frame_containment",
    "docs_video_perceptual_containment", "docs_video_scene_cuts",
    "docs_video_shared_scenes", "events_asof_order_streamed",
    "events_cdc_apply_streamed", "events_cms_streamed",
    "events_dedup_streamed", "events_distinct_rollup_streamed",
    "events_heavy_hitters_streamed", "events_hourly_counts_streamed",
    "events_sessionize_streamed", "events_trailing_anomaly_streamed",
    # r11 OPTIMIZATION evictions, wave 2 (re-VERIFY): the 12 emb
    # queries whose CALL SITES changed for the session-shared ANN
    # plumbing — they now pass the memoized corpus count into the
    # adaptive sizing ladders (n=) and/or the memoized bounded
    # training sample into the trainers (sample_rows=). Identical
    # results by construction (the ladders/trainers receive exactly
    # what their own count()/collect() returned — pinned by
    # tests/test_operators.py::test_shared_sample_and_n_paths_are_
    # identical) and re-proven 12/12 green at sf0.001 + sf0.01, but
    # the functions changed, so the driver re-verifies.
    # (The 21 names that drifted only through the similarity/pq
    # MODULE closure — signature extensions and docstrings, no
    # behavior change, their own code untouched — were re-RECORDED
    # per the ADVICE-r8 audit rule after a fresh 21/21 green sf0.001
    # check at record time; see the module-closure AUDIT NOTE in the
    # checked groups above.)
    "emb_ann_recall_gate", "emb_cosine_neardup", "emb_ivf_ann_topk",
    "emb_ivf_recall_gate", "emb_ivfpq_ann_topk", "emb_ivfpq_residual_topk",
    "emb_knn_join", "emb_knn_join_ivf", "emb_lsh_ann_topk",
    "emb_negative_sampling", "emb_pq_ann_topk", "emb_pq_recall_gate",
    # r11 wave 2b (re-VERIFY): quantized_ivf_knn_join re-keys its
    # candidate pair table by src (guide §2.5 — ivf_cell is the only
    # upstream key and the adaptive cell count is n/256, so at small n
    # the scoring stage serialized on a handful of tasks) and
    # embedding_cosine_neardup hoists its self-dots to the n-row
    # vector sides (one HOF dot per candidate pair instead of three).
    # Both consumers are already in the wave-2 eviction list above;
    # emb_semantic_dedup is evicted here because the same
    # similarity-module edits drift its closure digest and its edge
    # scorer reads the very expressions the cosine-neardup hunk moved
    # — conservative re-VERIFY rather than re-record.
    "emb_semantic_dedup",
    # r11 wave 4 (re-VERIFY): the text-family session-sharing seams —
    # the five consumers now ride shared cached tables instead of
    # re-running identical corpus passes: docs_lm_interpolated +
    # docs_lm_quality_filter read _lm_interp_scores_t (one trigram
    # train-and-score pass per session), and the three docs_bm25_*
    # queries ride _bm25_tf_t (one corpus tokenize+groupBy per
    # session; the decontamination parity filters commute through the
    # row-local tokenize — _bm25_tf_t docstring). Identical results by
    # construction (bm25_topk/bm25_index_write receive exactly what
    # their own tokenize produced — pinned by
    # tests/test_operators.py::test_bm25_shared_tf_path_identical) and
    # re-proven green at sf0.001 + sf0.01 before commit, but the call
    # sites changed, so the driver re-verifies.
    "docs_lm_interpolated", "docs_lm_quality_filter",
    "docs_bm25_topk", "docs_bm25_index_topk", "docs_bm25_decontamination",
    # r11 wave 6 (re-VERIFY): the DSIR family now rides one
    # session-shared per-doc feature table (_dsir_features_t) instead
    # of four independent featurize passes; the score_new halves are
    # parity filters of it (row-local featurize — the _bm25_tf_t
    # commuting argument). Identical results by construction
    # (dsir_topk/dsir_model_write receive exactly what their own
    # featurize produced — pinned by tests/test_operators.py::
    # test_dsir_shared_features_path_identical) and re-proven green at
    # sf0.001 + sf0.01 before commit, but the call sites changed, so
    # the driver re-verifies.
    "docs_dsir_selection", "docs_dsir_from_model", "docs_dsir_score_new",
    # r11 wave 7 (re-VERIFY): the exact-dedup family now rides one
    # session-shared verified-pairs table (_jaccard_pairs_t) instead
    # of five independent shingle self-join + verify passes. Pure
    # call-site factoring — the helper builds EXACTLY the expression
    # each consumer built inline (dedup.jaccard_pairs(documents,
    # threshold_micro=200000)) — re-proven green at sf0.001 + sf0.01
    # before commit, but the call sites changed, so the driver
    # re-verifies.
    "docs_neardup_jaccard", "docs_dedup_clusters", "docs_dedup_keepers",
    "docs_cluster_safe_split", "docs_minhash_estimate_gate",
]


def _rotated_names() -> list[str]:
    """Registry names ordered for the driver's prefix window: evicted /
    priority names first, then never-driver-checked names, then checked
    names OLDEST-ROUND-FIRST (registry order within each group) so
    stale greens re-verify before recent ones."""
    pri = [n for n in _WINDOW_PRIORITY if n in REGISTRY and n not in _DRIVER_CHECKED]
    fresh = [
        n for n in REGISTRY if n not in _DRIVER_CHECKED and n not in _WINDOW_PRIORITY
    ]
    reg_order = {n: i for i, n in enumerate(REGISTRY)}
    seen = [
        n
        for _, grp in _CHECKED_BY_ROUND
        # filter BEFORE sorting: a renamed/deleted query lingering in a
        # checked group must drop out silently, not ValueError the key
        # fn and take down queries()/bench/the driver window
        for n in sorted((x for x in grp if x in reg_order), key=reg_order.get)
    ]
    return pri + fresh + seen


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name][0] for name in _rotated_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _rotated_names()
        if REGISTRY[name][1] is not None
    }
