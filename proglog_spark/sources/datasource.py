"""`spark.read.format("proglog")` — a Spark Python DataSource for the
log table.

The library API (`LogTable` / `Engine`) is the primary surface; this
connector is the *catalog-idiomatic* one: any Spark user (SQL, other
languages via the session, notebooks) can scan a log or tail it as a
stream without importing this package's classes, exactly as they
would read kafka or parquet. Built on the Spark 4 Python DataSource
API (`pyspark.sql.datasource`).

What it implements — and deliberately not:

- **Batch read with real pushdown.** ``pushFilters`` consumes
  ``offset`` comparisons (the reference's only predicates — point
  and range, SURVEY §2.0b) and turns them into bucket-directory
  pruning at planning time plus a pyarrow row-group filter at read
  time: the two-level routing of `LogTable.scan`, surfaced through
  the engine-agnostic connector contract. One Spark task per
  surviving bucket.
- **Streaming tail.** A ``SimpleDataSourceStreamReader`` cursors by
  offset (`{"offset": n}` — dense offsets ARE the stream position,
  the reference's ConsumeStream contract O21), with
  ``readBetweenOffsets`` giving deterministic replay for exactly-once
  sinks and ``max_batch_records`` bounding micro-batch size (rate
  limiting, the knob the reference's busy-poll loop lacks).
- **No writer.** Appends need the single-writer dense-offset
  protocol (SURVEY §7.3.1); they go through ``LogTable.append`` /
  ``Engine.produce``. A connector writer would invite concurrent
  writers the contract forbids.

Local-filesystem paths (tests, local[32]); object stores go through
the LogTable API which uses the Hadoop FS layer.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

SCHEMA = "offset BIGINT, value STRING, term BIGINT, type INT"
_COLS = ["offset", "value", "term", "type"]
_UNBOUNDED = (1 << 63) - 1


def _local(path: str) -> str:
    return path[len("file:") :] if path.startswith("file:") else path


def _bucket_dirs(path: str) -> list[tuple[int, str]]:
    """Bucket dirs in NUMERIC order — lexicographic listing puts
    bucket=10 before bucket=2, which would make the first-match scan
    in `_min_offset_at_least` skip lower offsets entirely."""
    root = _local(path)
    out = []
    for entry in os.listdir(root):
        if entry.startswith("bucket="):
            out.append((int(entry.split("=", 1)[1]), os.path.join(root, entry)))
    out.sort()
    return out


def _bucket_files(bdir: str) -> list[str]:
    """Sorted paths of the committed data files in one bucket dir —
    THE definition of 'committed' for every native reader, this
    connector's and ``LogTable``'s: underscore/dot-prefixed markers
    and tmp files are not data."""
    return sorted(
        e.path
        for e in os.scandir(bdir)
        if e.name.endswith(".parquet") and not e.name.startswith(("_", "."))
    )


def _meta(path: str) -> dict:
    with open(os.path.join(_local(path), "_proglog_meta.json")) as fh:
        return json.load(fh)


def _scan_rows(path: str, lo: int, hi: int):
    """All (offset, value, term, type) with lo <= offset <= hi, in
    offset order — bucket-dir pruned, pyarrow-filtered."""
    import pyarrow.dataset as pads

    meta = _meta(path)
    bs = int(meta["bucket_size"])
    rows = []
    for b, bdir in _bucket_dirs(path):
        if (b + 1) * bs <= lo or b * bs > hi:
            continue
        files = _bucket_files(bdir)
        if not files:
            continue
        ds = pads.dataset(files, format="parquet")
        tbl = ds.to_table(
            columns=_COLS,
            filter=(pads.field("offset") >= lo) & (pads.field("offset") <= hi),
        )
        rows.extend(zip(*[tbl.column(c).to_pylist() for c in _COLS]))
    rows.sort(key=lambda r: r[0])
    return rows


def _min_offset_at_least(path: str, lo: int):
    """Smallest offset >= lo in the log, or None — footer-stat scan of
    the first candidate bucket(s) only."""
    import pyarrow.dataset as pads

    meta = _meta(path)
    bs = int(meta["bucket_size"])
    for b, bdir in _bucket_dirs(path):
        if (b + 1) * bs <= lo:
            continue
        files = _bucket_files(bdir)
        if not files:
            continue
        # arrow-side min over the filtered offset column — never a
        # Python list (a tail-follow poll would otherwise convert up
        # to bucket_size offsets per micro-batch just to take a min)
        import pyarrow.compute as pc

        ds = pads.dataset(files, format="parquet")
        tbl = ds.to_table(columns=["offset"], filter=pads.field("offset") >= lo)
        if tbl.num_rows:
            return pc.min(tbl.column("offset")).as_py()
    return None


@dataclass
class BucketPartition(InputPartition):
    files: list
    lo: int
    hi: int


class ProglogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("proglog source requires .option('path', ...)")
        self.lo = int(options.get("from_offset", 0))
        hi = options.get("to_offset")
        self.hi = int(hi) if hi is not None else _UNBOUNDED

    def pushFilters(self, filters):
        """Consume offset-range predicates; everything else stays in
        Spark. Consumed filters are applied EXACTLY (pyarrow filter in
        read()), so they are not re-evaluated post-scan."""
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("offset",) and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                v = int(f.value)
                if isinstance(f, EqualTo):
                    self.lo, self.hi = max(self.lo, v), min(self.hi, v)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, v)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, v - 1)
                else:
                    self.hi = min(self.hi, v)
            else:
                yield f

    def partitions(self):
        meta = _meta(self.path)
        bs = int(meta["bucket_size"])
        parts = []
        for b, bdir in _bucket_dirs(self.path):
            if (b + 1) * bs <= self.lo or b * bs > self.hi:
                continue  # bucket-range pruning (segment routing, O11)
            files = _bucket_files(bdir)
            if files:
                parts.append(BucketPartition(files, self.lo, self.hi))
        return parts or [BucketPartition([], 0, -1)]

    def read(self, partition):
        if not partition.files:
            return iter(())
        import pyarrow as pa
        import pyarrow.dataset as pads

        target = pa.schema(
            [
                ("offset", pa.int64()),
                ("value", pa.string()),
                ("term", pa.int64()),
                ("type", pa.int32()),
            ]
        )
        ds = pads.dataset(partition.files, format="parquet")
        scanner = ds.scanner(
            columns=_COLS,
            filter=(pads.field("offset") >= partition.lo)
            & (pads.field("offset") <= partition.hi),
        )
        for batch in scanner.to_batches():
            if batch.num_rows:
                yield pa.Table.from_batches([batch]).cast(target).to_batches()[0]


class ProglogStreamReader(SimpleDataSourceStreamReader):
    """Tail-follow cursor: stream position IS the next dense offset."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("proglog source requires .option('path', ...)")
        self.start_offset = int(options.get("from_offset", 0))
        self.max_batch = int(options.get("max_batch_records", 1 << 20))

    def initialOffset(self):
        return {"offset": self.start_offset}

    def read(self, start):
        lo = int(start["offset"])
        # The cursor may sit below the lowest surviving offset (log
        # created with initial_offset > 0, or truncated past the
        # cursor). Jump to the first available offset >= cursor FIRST;
        # scanning a fixed [lo, lo+max) window would return empty and
        # never advance — a permanent stall.
        lo2 = _min_offset_at_least(self.path, lo)
        if lo2 is None:
            return iter(()), {"offset": lo}
        rows = _scan_rows(self.path, lo2, lo2 + self.max_batch - 1)
        if not rows:
            return iter(()), {"offset": lo}
        return iter(rows), {"offset": rows[-1][0] + 1}

    def readBetweenOffsets(self, start, end):
        lo, hi = int(start["offset"]), int(end["offset"]) - 1
        return iter(_scan_rows(self.path, lo, hi))

    def commit(self, end):
        pass


class ProglogDataSource(DataSource):
    @classmethod
    def name(cls):
        return "proglog"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return ProglogBatchReader(self.options)

    def simpleStreamReader(self, schema):
        return ProglogStreamReader(self.options)


def register_proglog_source(spark) -> None:
    """Make ``format("proglog")`` available on this session.

    The source class is registered for BY-VALUE cloudpickling first:
    Spark ships DataSource classes to Python workers by module
    reference, and a worker has no reason to have this package on its
    path — by-value registration makes the connector self-contained
    (this module deliberately imports only stdlib + pyspark +
    pyarrow at read time)."""
    try:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # same-path deployments (tests, repo-local) still work
    spark.dataSource.register(ProglogDataSource)
