"""LogTable tests — modeled on the reference's log-layer test strategy
(SURVEY.md §5): append/read round-trips, out-of-range errors with the
offset payload, reopen-and-reread persistence, multi-file coverage via
tiny buckets, truncate visibility, dense offsets from a non-zero base.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from conftest import NoSpark, on_store
from proglog_spark import LogTable, OffsetOutOfRangeError
from proglog_spark.log.offsets import assign_dense_offsets


@pytest.fixture
def log(spark, tmp_path):
    # bucket_size=8 forces many bucket dirs (reference uses 32-byte
    # segments to force rolls, log_test.go:27)
    return LogTable.create(
        spark, str(tmp_path / "log"), bucket_size=8, max_records_per_file=4
    )


def test_append_read_roundtrip(log):
    base, last = log.append(["a", "b", "c"])
    assert (base, last) == (0, 2)
    row = log.read(1)
    assert (row.offset, row.value, row.term, row.type) == (1, "b", 0, 0)


def test_append_continues_offsets(log):
    log.append(["a", "b"])
    base, last = log.append(["c", "d", "e"])
    assert (base, last) == (2, 4)
    assert [r.value for r in log.reader().collect()] == ["a", "b", "c", "d", "e"]


def test_read_out_of_range_payload(log):
    log.append(["a"])
    with pytest.raises(OffsetOutOfRangeError) as ei:
        log.read(99)
    assert str(ei.value) == "OFFSET_OUT_OF_RANGE:99"
    assert ei.value.offset == 99


def test_empty_log(log):
    assert log.lowest_offset() is None
    assert log.highest_offset() is None
    assert log.count() == 0
    with pytest.raises(OffsetOutOfRangeError):
        log.read(0)


def test_bounds_and_count_multibucket(log):
    n = 50  # spans 7 buckets of size 8
    log.append([f"v{i}" for i in range(n)])
    assert log.lowest_offset() == 0
    assert log.highest_offset() == n - 1
    assert log.count() == n
    assert len(log._buckets()) == 7


def test_scan_tail_consume(log):
    log.append([f"v{i}" for i in range(30)])
    assert [r.offset for r in log.scan(5, 9).collect()] == [5, 6, 7, 8, 9]
    assert [r.offset for r in log.tail(3).collect()] == [27, 28, 29]
    assert [r.offset for r in log.consume_from(25).collect()] == [25, 26, 27, 28, 29]
    assert [r.value for r in log.scan(7, 8).collect()] == ["v7", "v8"]


def test_reopen_preserves_state(spark, tmp_path):
    # reference: reopen with existing segments (log_test.go:55-80)
    path = str(tmp_path / "log")
    log1 = LogTable.create(spark, path, bucket_size=8)
    log1.append([f"v{i}" for i in range(20)])
    log2 = LogTable.open(spark, path)
    assert log2.bucket_size == 8
    assert log2.highest_offset() == 19
    assert log2.read(13).value == "v13"
    base, last = log2.append(["tail"])
    assert (base, last) == (20, 20)


def test_truncate_exact(log):
    # reference truncate visibility (log_test.go:98-118); we declare
    # exact semantics (SURVEY §7.3.3)
    log.append([f"v{i}" for i in range(30)])
    # warm the read caches on both sides of the boundary first
    assert (log.read(16).value, log.read(17).value) == ("v16", "v17")
    log.truncate(16)  # drops buckets 0,1 entirely; rewrites bucket 2
    assert log.lowest_offset() == 17
    assert log.highest_offset() == 29
    assert log.count() == 13
    with pytest.raises(OffsetOutOfRangeError):
        log.read(16)
    assert log.read(17).value == "v17"
    # appends continue after truncation
    base, _ = log.append(["post"])
    assert base == 30


def test_truncate_whole_log_then_append(log):
    log.append(["a", "b", "c"])
    log.truncate(2)
    assert log.count() == 0
    base, last = log.append(["d"])
    assert (base, last) == (3, 3)  # offsets never regress


def test_initial_offset_nonzero(spark, tmp_path):
    # reference: dense offsets from base 16 (segment_test.go:21,28-38)
    log = LogTable.create(spark, str(tmp_path / "log16"), bucket_size=8, initial_offset=16)
    base, last = log.append(["x", "y"])
    assert (base, last) == (16, 17)
    assert log.read(16).value == "x"
    with pytest.raises(OffsetOutOfRangeError):
        log.read(0)


def test_append_dataframe_with_order(spark, log):
    df = spark.createDataFrame(
        [(f"k{i}", i) for i in (5, 3, 1, 4, 2, 0)], "value STRING, seq INT"
    ).repartition(3)
    log.append(df.select("value", F.col("seq")), order_by=["seq"])
    vals = [r.value for r in log.reader().collect()]
    assert vals == ["k0", "k1", "k2", "k3", "k4", "k5"]


def test_dense_offsets_many_partitions(spark):
    # density invariant under arbitrary partitioning (no gaps, no dupes)
    df = spark.range(0, 10_000).repartition(13).select(F.col("id").alias("payload"))
    out, n = assign_dense_offsets(df, start=100)
    assert n == 10_000  # returned count comes from the partition pass
    offs = sorted(r.offset for r in out.select("offset").collect())
    assert offs == list(range(100, 10_100))


def test_snapshot_restore(spark, log, tmp_path):
    log.append([f"v{i}" for i in range(12)])
    log.truncate(3)
    snap = str(tmp_path / "snap")
    log.snapshot(snap)
    restored = LogTable.restore(spark, snap, str(tmp_path / "log2"), bucket_size=8)
    assert restored.lowest_offset() == 4
    assert restored.highest_offset() == 11
    assert restored.read(7).value == "v7"
    assert restored.initial_offset == 4


def test_create_rejects_mismatched_config(spark, tmp_path):
    """create() over an existing log with different config must raise,
    not silently discard the caller's arguments (review finding)."""
    path = str(tmp_path / "log_cfg")
    LogTable.create(spark, path, bucket_size=8, initial_offset=0)
    again = LogTable.create(spark, path, bucket_size=8, initial_offset=0)
    assert again.bucket_size == 8  # matching config: idempotent
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exists with bucket_size"):
        LogTable.create(spark, path, bucket_size=16, initial_offset=0)
    with _pytest.raises(ValueError, match="initial_offset must be >= 0"):
        LogTable.create(spark, str(tmp_path / "neg"), initial_offset=-1)


def test_truncate_crash_recovery(spark, tmp_path):
    """A truncate interrupted between protocol steps must never lose
    surviving records: open() either completes or rolls it back."""
    import os

    path = str(tmp_path / "log_crash")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append([f"v{i}" for i in range(12)])  # buckets 0 (0-7), 1 (8-11)

    # simulate a crash between steps (2) and (3): survivors staged in
    # .truncate-new-0, live bucket already moved aside
    survivors = log.df().where("bucket = 0 AND offset > 3").select(
        "offset", "value", "term", "type"
    )
    survivors.write.mode("overwrite").parquet(f"{path}/.truncate-new-0")
    os.remove(f"{path}/.truncate-new-0/_SUCCESS")
    os.rename(f"{path}/bucket=0", f"{path}/.truncate-old-0")

    reopened = LogTable.open(spark, path)
    got = sorted((r.offset, r.value) for r in reopened.reader().collect())
    # recovery lands in one of two safe states: truncate completed
    # (4..11) or rolled back (0..11) — never missing survivors
    assert got in (
        [(i, f"v{i}") for i in range(4, 12)],
        [(i, f"v{i}") for i in range(12)],
    )
    # no hidden protocol dirs left behind
    assert not any(n.startswith(".truncate-") for n in os.listdir(path))


def test_produce_stream_replay_is_noop(spark, tmp_path):
    """The replay marker is scoped to the CHECKPOINT identity: a batch
    replayed by the SAME checkpoint (crash between the data commit and
    the streaming-checkpoint commit, simulated by deleting the commit
    marker) is a no-op, while a NEW query with a fresh checkpoint —
    whose batch ids restart from 0 — must append, not be silently
    swallowed as a 'replay'."""
    import os

    from proglog_spark.streaming import produce_stream

    src_dir = tmp_path / "replay_src"
    spark.createDataFrame([("a",), ("b",)], "value STRING").write.mode(
        "append"
    ).parquet(str(src_dir))
    log = LogTable.create(spark, str(tmp_path / "log_replay"), bucket_size=8)
    source = spark.readStream.schema("value STRING").parquet(str(src_dir))
    q = produce_stream(source, log, checkpoint_dir=str(tmp_path / "ck1"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert log.count() == 2 and log.last_produce_batch == 0

    # crash simulation: the data commit landed but the streaming
    # checkpoint's commit marker did not — restart with the SAME
    # checkpoint re-delivers batch 0, and the log-side marker must
    # make that replay a no-op
    os.remove(str(tmp_path / "ck1" / "commits" / "0"))
    crc = tmp_path / "ck1" / "commits" / ".0.crc"
    if crc.exists():  # hadoop local-fs checksum sidecar
        os.remove(str(crc))
    source_r = spark.readStream.schema("value STRING").parquet(str(src_dir))
    qr = produce_stream(source_r, log, checkpoint_dir=str(tmp_path / "ck1"))
    try:
        qr.processAllAvailable()
    finally:
        qr.stop()
    assert log.count() == 2  # replay absorbed, no duplicates

    # a genuinely NEW query (fresh checkpoint, batch ids restart at 0)
    # on the same log must append — cross-checkpoint skipping would be
    # silent data loss for a new source
    source2 = spark.readStream.schema("value STRING").parquet(str(src_dir))
    q2 = produce_stream(source2, log, checkpoint_dir=str(tmp_path / "ck2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert log.count() == 4

    # and the marker bookkeeping survives reopen
    re_log = LogTable.open(spark, str(tmp_path / "log_replay"))
    assert re_log.last_produce_batch == 0
    assert re_log.last_produce_marker is not None


def test_compact_collapses_small_files_preserving_data(spark, tmp_path):
    """Many tiny append batches -> many files; compact() must shrink
    the file count without changing any read result, and a reopened
    log must see the same records."""
    from proglog_spark.log.table import LogTable

    log = LogTable.create(spark, str(tmp_path / "log"), bucket_size=100)
    for i in range(12):
        log.append([f"v{3 * i}", f"v{3 * i + 1}", f"v{3 * i + 2}"])
    before = [(r.offset, r.value) for r in log.reader().collect()]

    def n_files(b):
        return len(glob.glob(f"{log.path}/bucket={b}/*.parquet"))

    assert n_files(0) >= 12
    assert log.read(17).value == "v17"  # cached before the rewrite
    assert log.compact() == 1
    assert n_files(0) == 1
    after = [(r.offset, r.value) for r in log.reader().collect()]
    assert after == before
    assert log.read(17).value == "v17"
    assert (log.lowest_offset(), log.highest_offset()) == (0, 35)
    # idempotent: nothing left to do
    assert log.compact() == 0
    reopened = LogTable.open(spark, str(tmp_path / "log"))
    assert [(r.offset, r.value) for r in reopened.reader().collect()] == before


def test_compact_respects_max_records_per_file(spark, tmp_path):
    """A bucket with more rows than max_records_per_file compacts to
    several files, each under the roll size (segment IsMaxed analog)."""
    from proglog_spark.log.table import LogTable

    log = LogTable.create(
        spark, str(tmp_path / "log"), bucket_size=1000, max_records_per_file=10
    )
    for i in range(8):
        log.append([f"v{i}-{j}" for j in range(4)])  # 32 rows, 8 files
    assert log.compact() == 1
    assert len(glob.glob(f"{log.path}/bucket=0/*.parquet")) == 4  # ceil(32 / 10)
    assert log.count() == 32 and log.read(31).value == "v7-3"


def test_compact_never_writes_oversized_files(spark, tmp_path):
    """Uneven input files must not defeat the roll size: every
    compacted file stays within max_records_per_file."""
    from proglog_spark.log.table import LogTable

    log = LogTable.create(
        spark, str(tmp_path / "log"), bucket_size=1000, max_records_per_file=10
    )
    log.append([f"a{i}" for i in range(9)])       # one 9-row file
    for i in range(12):
        log.append([f"b{i}"])                     # twelve 1-row files
    assert log.compact() == 1
    sizes = [
        spark.read.parquet(f).count()
        for f in glob.glob(f"{log.path}/bucket=0/*.parquet")
    ]
    assert sum(sizes) == 21 and max(sizes) <= 10, sizes
    assert log.count() == 21 and log.read(20).value == "b11"


def test_point_read_spark_fallback_matches_native(spark, tmp_path):
    """read() has two implementations (in-process pyarrow on the os
    store, the Spark plan on the Hadoop store) — over one log, both
    must return the same row and the same out-of-range error."""
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=4)
    log.append([f"v{i}" for i in range(10)])

    for kind in ("os", "hadoop"):
        with on_store(kind):
            handle = LogTable.open(spark, path)
        assert tuple(handle.read(7)) == (7, "v7", 0, 0), kind
        with pytest.raises(OffsetOutOfRangeError):
            handle.read(99)


def test_row_group_bytes_knob_persists_and_reads(spark, tmp_path):
    """row_group_bytes: writer produces multiple small row groups (the
    point-read latency dial — the native read decodes ONE group after
    footer-stat pruning), the setting survives reopen via meta, and
    compaction rewrites keep honoring it."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=1 << 20, row_group_bytes=1 << 16)
    log.append([f"v{i:06d}" for i in range(20000)])
    f = glob.glob(path + "/bucket=0/*.parquet")[0]
    assert pq.ParquetFile(f).num_row_groups > 1

    reopened = LogTable.open(spark, path)
    assert reopened.row_group_bytes == 1 << 16
    assert tuple(reopened.read(12345))[:2] == (12345, "v012345")

    log.append(["tail"])
    log.compact()
    fs = glob.glob(path + "/bucket=0/*.parquet")
    assert len(fs) == 1 and pq.ParquetFile(fs[0]).num_row_groups > 1
    assert tuple(log.read(20000))[:2] == (20000, "tail")


def test_files_metadata_matches_physical_layout(spark, tmp_path):
    """files(): per-file rows/offset-range/bytes from footers only.
    Row counts sum to the log count, offset ranges are disjoint and
    dense in union, and truncate/compact are visible in the listing."""
    log = LogTable.create(
        spark, str(tmp_path / "log"), bucket_size=100, max_records_per_file=40
    )
    log.append([f"v{i}" for i in range(250)])
    files = log.files().collect()
    assert sum(r.n_rows for r in files) == 250
    assert all(r.n_rows == r.max_offset - r.min_offset + 1 for r in files)
    assert all(r.bytes > 0 for r in files)
    assert all(r.n_rows <= 40 for r in files)  # maxRecordsPerFile honored
    covered = sorted((r.min_offset, r.max_offset) for r in files)
    assert covered[0][0] == 0 and covered[-1][1] == 249
    for (a, b), (c, d) in zip(covered, covered[1:]):
        assert c == b + 1  # disjoint, gap-free union

    log.truncate(99)
    files = log.files().collect()
    assert min(r.min_offset for r in files) == 100
    assert {r.bucket for r in files} == {1, 2}


def test_consume_iter_tail_follow(spark, tmp_path):
    """The in-process ConsumeStream analog: ordered gap-free delivery
    from a cursor, live pickup of post-subscribe appends (the
    blocking-tail scenario, server_test.go:247-284), truncation-gap
    jumping, and tens-of-ms delivery latency."""
    import threading
    import time

    from proglog_spark.log import LogTable

    log = LogTable.create(spark, str(tmp_path / "iterlog"), bucket_size=4)
    log.append([f"r{i}" for i in range(6)])

    got, lat = [], {}
    stop = threading.Event()

    def consume():
        for row in log.consume_iter(from_offset=2, stop=stop):
            got.append(row)
            lat[row[0]] = time.time()
            if len(got) >= 7:
                stop.set()

    t = threading.Thread(target=consume)
    t.start()
    deadline = time.time() + 30
    while len(got) < 4 and time.time() < deadline:
        time.sleep(0.01)
    assert [r[0] for r in got] == [2, 3, 4, 5]  # catch-up from cursor

    t0 = time.time()
    log.append(["late-a", "late-b", "late-c"])
    while len(got) < 7 and time.time() < deadline:
        time.sleep(0.01)
    stop.set()
    t.join(timeout=10)

    assert [r[0] for r in got] == [2, 3, 4, 5, 6, 7, 8]
    assert got[-1][1] == "late-c"
    # delivery of the post-subscribe append within a few poll cycles
    assert lat[6] - t0 < 2.0

    # cursor below the truncation point jumps to the first survivor
    log.truncate(4)
    rows = []
    stop2 = threading.Event()
    for row in log.consume_iter(from_offset=0, stop=stop2):
        rows.append(row)
        if len(rows) >= 4:
            stop2.set()
    assert [r[0] for r in rows] == [5, 6, 7, 8]


def test_min_offset_scan_is_numeric_bucket_order(spark, tmp_path):
    """Regression: bucket dirs must scan in NUMERIC order — a
    lexicographic listing visits bucket=10 before bucket=2 and the
    gap-jump would silently skip offsets 8..39."""
    from proglog_spark.log import LogTable
    from proglog_spark.sources.datasource import _min_offset_at_least

    log = LogTable.create(spark, str(tmp_path / "numlog"), bucket_size=4)
    log.append([f"n{i}" for i in range(60)])  # buckets 0..14
    assert _min_offset_at_least(log.path, 9) == 9
    assert _min_offset_at_least(log.path, 41) == 41

    import threading

    stop = threading.Event()
    got = []
    for row in log.consume_iter(from_offset=9, stop=stop):
        got.append(row[0])
        if len(got) >= 5:
            stop.set()
            break
    assert got == [9, 10, 11, 12, 13]


def test_open_sweeps_orphaned_native_tmp(spark, tmp_path):
    """Crash-orphaned .native-*.tmp files are invisible to readers and
    are reclaimed on the next open()."""
    import os

    from proglog_spark.log import LogTable

    path = str(tmp_path / "sweeplog")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a", "b", "c"])
    bdir = os.path.join(path, "bucket=0")
    orphan = os.path.join(bdir, ".native-deadbeef.parquet.tmp")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")

    # invisible to reads while present
    assert log.read(1).value == "b"
    log2 = LogTable.open(spark, path)
    assert not os.path.exists(orphan)
    assert log2.read(2).value == "c"


def test_two_handles_never_double_assign_offsets(spark, tmp_path):
    """Out-of-contract but easy to do accidentally: a second handle on
    the same local directory must continue from the filesystem truth,
    not a stale in-memory highest-offset cache."""
    from proglog_spark.log import LogTable

    path = str(tmp_path / "twolog")
    a = LogTable.create(spark, path, bucket_size=8)
    a.append(["a0", "a1"])
    assert a.read(1).value == "a1"  # a indexes the bucket before b writes
    b = LogTable.open(spark, path)
    assert b.append(["b0"]) == (2, 2)
    assert a.read(2).value == "b0"
    # the FIRST handle's cache is now stale; its next append must
    # still see b's record and continue densely
    assert a.append(["a2"]) == (3, 3)
    offs = [r.offset for r in a.reader().collect()]
    assert offs == [0, 1, 2, 3]
    assert [r.value for r in a.reader().collect()] == ["a0", "a1", "b0", "a2"]


def test_append_and_read_cost_stays_flat(spark, tmp_path, monkeypatch):
    """The footer index is built once per file, as the reference's
    segment index is built once (internal/log/log.go:99-104): as one
    bucket grows by single-record appends, each append reads at most
    one footer, a first read of a file opens at most one file, and
    repeating the read opens none."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    counts = {"footers": 0, "opened": 0}
    read_metadata, dataset = pq.read_metadata, pads.dataset

    def counted_read_metadata(*args, **kwargs):
        counts["footers"] += 1
        return read_metadata(*args, **kwargs)

    def counted_dataset(source, *args, **kwargs):
        counts["opened"] += len(source) if isinstance(source, list) else 1
        return dataset(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_metadata", counted_read_metadata)
    monkeypatch.setattr(pads, "dataset", counted_dataset)

    log = LogTable.create(spark, str(tmp_path / "costlog"), bucket_size=1 << 20)
    for i in range(40):
        counts["footers"] = 0
        log.append([f"r{i}"])
        assert counts["footers"] <= 1, (i, counts["footers"])
    for off in (0, 20, 39):
        counts["opened"] = 0
        assert log.read(off).value == f"r{off}"
        assert counts["opened"] <= 1, (off, counts["opened"])
        counts["opened"] = 0
        assert log.read(off).value == f"r{off}"
        assert counts["opened"] == 0, (off, counts["opened"])


def test_local_log_needs_no_spark(tmp_path):
    """On a local path the log's serving surface never touches the
    session: create, open, append, read, bounds, count, consume_iter
    and close run on os and pyarrow alone (the JVM-free contract)."""
    import threading

    path = str(tmp_path / "log")
    no_spark = NoSpark()
    log = LogTable.create(no_spark, path, bucket_size=4)
    assert log.append(iter(["a", "b", "c", "d", "e"])) == (0, 4)
    log.close()
    log = LogTable.open(no_spark, path)
    assert log.append(["f"]) == (5, 5)
    assert tuple(log.read(3)) == (3, "d", 0, 0)
    assert (log.lowest_offset(), log.highest_offset(), log.count()) == (0, 5, 6)
    stop = threading.Event()
    got = []
    for row in log.consume_iter(from_offset=2, stop=stop):
        got.append(row[0])
        if len(got) == 4:
            stop.set()
    assert got == [2, 3, 4, 5]
    log.close()


def test_reader_handle_sees_writer_appends(spark, tmp_path):
    """A second handle's bounds follow the writer's appends: a local
    path answers them from the footer index on every call, not from a
    cache that only the appending handle clears."""
    path = str(tmp_path / "log")
    writer = LogTable.create(spark, path, bucket_size=4)
    writer.append(["a"])
    reader = LogTable.open(spark, path)
    assert (reader.highest_offset(), reader.count()) == (0, 1)
    writer.append(["b", "c"])
    assert (reader.lowest_offset(), reader.highest_offset(), reader.count()) == (0, 2, 3)
    writer.append(["d", "e", "f"])  # into the next bucket
    assert (reader.highest_offset(), reader.count()) == (5, 6)


def test_consume_iter_idle_polls_open_no_dataset(tmp_path, monkeypatch):
    """An idle tail poll checks the footer index and opens no pyarrow
    dataset; a later append is still delivered."""
    import threading
    import time

    import pyarrow.dataset as pads

    log = LogTable.create(NoSpark(), str(tmp_path / "log"), bucket_size=1 << 20)
    log.append([f"r{i}" for i in range(3)])
    counts = {"opened": 0, "polls": 0}
    dataset, highest = pads.dataset, log.highest_offset

    def counted_dataset(*args, **kwargs):
        counts["opened"] += 1
        return dataset(*args, **kwargs)

    def counted_highest():
        counts["polls"] += 1
        return highest()

    monkeypatch.setattr(pads, "dataset", counted_dataset)
    monkeypatch.setattr(log, "highest_offset", counted_highest)
    got, stop = [], threading.Event()

    def consume():
        for row in log.consume_iter(from_offset=3, poll_interval=0.01, stop=stop):
            got.append(row)
            stop.set()

    t = threading.Thread(target=consume)
    t.start()
    try:
        deadline = time.time() + 10
        while counts["polls"] < 10 and time.time() < deadline:
            time.sleep(0.01)
        assert counts["polls"] >= 10
        assert counts["opened"] == 0
        log.append(["late"])
        t.join(timeout=30)
        assert not t.is_alive()
        assert got == [(3, "late", 0, 0)]
    finally:
        stop.set()
        t.join(timeout=30)


def test_footer_without_offset_stats_names_the_file(tmp_path):
    """The native read path is the only one on a local path, so a
    footer it cannot route by raises, naming the file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from proglog_spark.errors import ProglogError

    path = str(tmp_path / "log")
    log = LogTable.create(NoSpark(), path, bucket_size=4)
    bad = os.path.join(path, "bucket=0", "nostats.parquet")
    os.makedirs(os.path.dirname(bad))
    table = pa.table(
        {
            "offset": pa.array([0], pa.int64()),
            "value": ["a"],
            "term": pa.array([0], pa.int64()),
            "type": pa.array([0], pa.int32()),
        }
    )
    pq.write_table(table, bad, write_statistics=False)
    with pytest.raises(ProglogError, match="nostats.parquet"):
        log.read(0)


@pytest.mark.parametrize("first, second", [("os", "hadoop"), ("hadoop", "os")])
def test_log_crosses_stores(spark, tmp_path, first, second):
    """Both stores keep one on-disk format: a log written through one
    is opened, read, appended to and truncated through the other, and
    the first reads the result back."""
    path = str(tmp_path / "log")
    with on_store(first):
        log = LogTable.create(spark, path, bucket_size=4)
    log.append([f"v{i}" for i in range(6)])
    log.close()
    with on_store(second):
        other = LogTable.open(spark, path)
    assert tuple(other.read(5)) == (5, "v5", 0, 0)
    assert other.append(["w6", "w7"]) == (6, 7)
    other.truncate(2)  # rewrites bucket 0, keeping offset 3
    assert (other.lowest_offset(), other.highest_offset(), other.count()) == (3, 7, 5)
    other.close()
    with on_store(first):
        back = LogTable.open(spark, path)
    assert [(r.offset, r.value) for r in back.reader().collect()] == [
        (3, "v3"), (4, "v4"), (5, "v5"), (6, "w6"), (7, "w7"),
    ]
    assert (back.lowest_offset(), back.highest_offset()) == (3, 7)
    assert back.read(6).value == "w6"


@pytest.fixture
def listing_counts(monkeypatch):
    """Counts directory listings (``os.scandir``/``os.listdir``), footer
    reads and dataset opens from here on."""
    import os

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    counts = {"listings": 0, "footers": 0, "opened": 0}

    def counted(fn, key):
        def wrapper(*args, **kwargs):
            counts[key] += 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(os, "scandir", counted(os.scandir, "listings"))
    monkeypatch.setattr(os, "listdir", counted(os.listdir, "listings"))
    monkeypatch.setattr(pq, "read_metadata", counted(pq.read_metadata, "footers"))
    monkeypatch.setattr(pads, "dataset", counted(pads.dataset, "opened"))
    return counts


def test_lease_holder_produces_and_consumes_without_listing(tmp_path, listing_counts):
    """While the handle that created the writer lock is inside its
    lease, Produce and Consume serve from the footer index and LRU it
    keeps current: no directory listing, footer read or dataset open."""
    log = LogTable.create(NoSpark(), str(tmp_path / "log"), bucket_size=1 << 20)
    log.append([f"p{i}" for i in range(20)])  # takes the lock, lists once
    counts = listing_counts
    counts.update(listings=0, footers=0, opened=0)
    for i in range(50):
        off, _ = log.append([f"r{i}"])
        assert log.read(off).value == f"r{i}"
        assert log.read(i % 20).value == f"p{i % 20}"
    assert (log.lowest_offset(), log.highest_offset()) == (0, 69)
    assert counts == {"listings": 0, "footers": 0, "opened": 0}
    log.close()


def test_creator_sees_borrowing_sibling_append(tmp_path, listing_counts):
    """A same-process sibling borrows the lock and appends: its write
    moves the write stamp, so the creator re-lists on its next read and
    its next append continues after the sibling's record."""
    path = str(tmp_path / "log")
    creator = LogTable.create(NoSpark(), path, bucket_size=4)
    creator.append(["a0", "a1", "a2"])
    assert creator.read(2).value == "a2"
    sibling = LogTable.open(NoSpark(), path)
    assert sibling.append(["s3", "s4"]) == (3, 4)
    assert creator.read(4).value == "s4"
    assert creator.append(["a5"]) == (5, 5)
    assert sibling.append(["s6"]) == (6, 6)
    assert creator.append(["a7"]) == (7, 7)
    assert [creator.read(o).value for o in range(8)] == [
        "a0", "a1", "a2", "s3", "s4", "a5", "s6", "a7",
    ]
    assert (sibling.lowest_offset(), sibling.highest_offset()) == (0, 7)
    assert listing_counts["listings"] > 0
    sibling.close()
    creator.close()


def test_reacquired_lock_sees_other_process_append(tmp_path):
    """Another process takes the lock and appends, after close() or
    after the lock file vanished under a live writer; the handle that
    then re-acquires or re-creates the lock sees those records and
    continues densely after them."""
    import os
    import subprocess
    import sys
    import time

    path = str(tmp_path / "log")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from proglog_spark import LogTable\n"
        "log = LogTable.open(None, sys.argv[2])\n"
        "print(log.append(sys.argv[3:]))\n"
        "log.close()\n"
    )

    def other_process(*values):
        return subprocess.run(
            [sys.executable, "-c", code, repo, path, *values],
            capture_output=True, text=True, timeout=120, check=True,
        ).stdout.strip()

    log = LogTable.create(NoSpark(), path, bucket_size=4)
    log.append(["a0", "a1"])
    assert log.read(1).value == "a1"
    log.close()
    assert other_process("o2", "o3", "o4") == "(2, 4)"
    assert log.append(["a5"]) == (5, 5)
    assert [log.read(o).value for o in range(6)] == ["a0", "a1", "o2", "o3", "o4", "a5"]
    # the lock file is removed by hand; the next renewal re-creates it
    os.remove(os.path.join(path, "_proglog_writer.lock"))
    assert other_process("o6") == "(6, 6)"
    log._lease_deadline = time.time()  # renew at the next append
    assert log.append(["a7"]) == (7, 7)
    assert log.read(6).value == "o6"
    assert (log.lowest_offset(), log.highest_offset()) == (0, 7)
    log.close()


def test_rewrites_and_spark_append_keep_index_current(spark, tmp_path):
    """truncate, compact and a Spark-path DataFrame append on the
    lease-holding handle each move the write stamp: its reads and
    bounds afterwards match the files on disk."""
    log = LogTable.create(
        spark, str(tmp_path / "log"), bucket_size=8, max_records_per_file=4
    )
    for i in range(20):
        log.append([f"v{i}"])
    assert log.read(19).value == "v19"

    def check():
        files = log.files().collect()
        lo = min(f.min_offset for f in files if f.min_offset is not None)
        hi = max(f.max_offset for f in files if f.max_offset is not None)
        assert (log.lowest_offset(), log.highest_offset()) == (lo, hi)
        assert [log.read(o).offset for o in range(lo, hi + 1)] == list(range(lo, hi + 1))
        with pytest.raises(OffsetOutOfRangeError):
            log.read(lo - 1)
        return lo, hi

    log.truncate(7)  # drops bucket 0 whole
    assert check() == (8, 19)
    log.truncate(9)  # rewrites bucket 1
    assert check() == (10, 19)
    assert log.compact() > 0
    assert check() == (10, 19)
    df = spark.createDataFrame([("d0",), ("d1",), ("d2",)], "value string")
    assert log.append(df) == (20, 22)
    assert check() == (10, 22)
    assert log.append(["n23"]) == (23, 23)
    assert log.read(23).value == "n23"
    log.close()


def test_lease_past_half_life_relists(tmp_path, listing_counts):
    """Past its lease's first half-life the writer no longer trusts its
    index: a read re-lists and sees a file it did not write."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "log")
    log = LogTable.create(NoSpark(), path, bucket_size=1 << 20)
    log.append(["a0", "a1"])
    planted = pa.table(
        {
            "offset": pa.array([2], pa.int64()),
            "value": ["other"],
            "term": pa.array([0], pa.int64()),
            "type": pa.array([0], pa.int32()),
        }
    )
    pq.write_table(planted, os.path.join(path, "bucket=0", "planted.parquet"))
    listing_counts["listings"] = 0
    # out of contract (no one may commit under a live lease), which is
    # why the lease holder inside its first half-life does not look
    assert log.highest_offset() == 1
    assert listing_counts["listings"] == 0
    log._lease_deadline = time.time() + log.lease_seconds * 0.4
    assert log.highest_offset() == 2
    assert log.read(2).value == "other"
    assert listing_counts["listings"] > 0
    log.close()


def test_failed_truncate_keeps_reads_matching_disk(spark, tmp_path, monkeypatch):
    """A truncate that drops a whole bucket and then fails rewriting the
    boundary bucket still moves the write stamp: the lease holder's
    bounds and reads afterwards match the files left on disk, not the
    index and LRU it held before."""
    log = LogTable.create(spark, str(tmp_path / "log"), bucket_size=8)
    for i in range(20):
        log.append([f"v{i}"])
    assert [log.read(o).value for o in range(20)] == [f"v{i}" for i in range(20)]

    def fail(*args, **kwargs):
        raise RuntimeError("boundary rewrite failed")

    monkeypatch.setattr(log, "_rewrite_bucket", fail)
    with pytest.raises(RuntimeError, match="boundary rewrite failed"):
        log.truncate(9)  # drops bucket 0 whole, then fails on bucket 1
    files = log.files().collect()
    assert min(f.min_offset for f in files) == 8
    assert (log.lowest_offset(), log.highest_offset()) == (8, 19)
    for o in range(8):
        with pytest.raises(OffsetOutOfRangeError):
            log.read(o)
    assert [log.read(o).value for o in range(8, 20)] == [f"v{i}" for i in range(8, 20)]
    log.close()
