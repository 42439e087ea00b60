"""LogTable — an append-only, dense-offset, Parquet-backed log.

Spark-native re-expression of the reference's Log (directory of
segments; internal/log/log.go:16-23) with the query surface of its
five RPCs plus the internal log API (SURVEY.md §2.1 L1–L10):

| reference                               | here                            |
|-----------------------------------------|---------------------------------|
| segment = store file + mmap index       | parquet file (footer min/max    |
|   (internal/log/segment.go:12-17)       |   stats ARE the offset index)   |
| linear segment routing on offset range  | partition pruning on the        |
|   (internal/log/log.go:99-104)          |   ``bucket`` directory column   |
| segment roll IsMaxed                    | ``maxRecordsPerFile`` + bucket  |
|   (internal/log/segment.go:81-83)       |   size                          |
| dense offset assignment under mutex     | single-writer +                 |
|   (internal/log/segment.go:46-64)       |   ``assign_dense_offsets``      |
| Truncate drops whole segments           | drop whole bucket dirs, rewrite |
|   (internal/log/log.go:155-171)         |   only the boundary bucket      |
| crash recovery re-lists segment files   | ``LogTable.open`` re-reads meta |
|   (internal/log/log.go:39-68)           |   + parquet dir discovery       |

Layout on disk::

    <path>/_proglog_meta.json          # bucket_size, initial_offset
    <path>/bucket=<n>/part-*.parquet   # records with n = offset // bucket_size

Offset-range predicates prune at two levels: directory (``bucket``
partition column) and row-group (parquet footer min/max on ``offset``)
— the same two-level routing the reference does with segment base
offsets + its mmap index, but provided by the Spark/Parquet stack
instead of hand-built.

The filesystem is chosen once, from the path, when a handle is built
(``log/store.py``). On a local path the log serves append, point
read, bounds, ``files()`` and ``consume_iter`` in-process through
pyarrow and ``os``, with no Spark job and no JVM call; their errors
propagate. Any other scheme gets the Hadoop store, and those calls run
as Spark jobs. Meta, lock, truncate and compaction swaps go through
the store either way, and both stores keep one on-disk format.

The local path keeps a footer index (each bucket's files with their
row-group offset ranges, and the bucket list) and an LRU of decoded row
groups. A handle re-lists the directories on each call, reading only
footers it has not seen, except while it holds a writer lease it
created, inside the lease's first half-life and with no write by any
handle of this process since its index was last current: then no one
else can commit, so it serves from memory, and its own native appends
add their files, footers and row groups to the index and the LRU as
they write them — the reference's in-memory segment list
(internal/log/log.go:99-104), which it lists once at open.

Concurrency contract: exactly one writer per LogTable path (the
reference holds a per-log mutex, internal/log/log.go:81-82). The
in-process half of that invariant is the caller's (like the
reference's mutex, one appender thread at a time); the cross-process
half is ENFORCED: the first mutating call takes an exclusive
``_proglog_writer.lock`` file in the log dir, a second process's
mutation raises ``WriterLockHeldError`` until the first releases it
(``close()``) or the operator explicitly ``steal_writer_lock()``s a
confirmed-dead owner. A same-host lock whose owner pid no longer
exists is reclaimed automatically (crash recovery). Readers never
touch the lock, and always see only committed files, so reads are
read-your-committed-writes.
"""

from __future__ import annotations

import bisect
import contextlib
import itertools
import json
import os
import threading
import time
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proglog_spark.errors import (
    OffsetOutOfRangeError,
    ProglogError,
    WriterLockHeldError,
    WriterLockLostError,
)
from proglog_spark.log.offsets import assign_dense_offsets
from proglog_spark.log.store import SUCCESS_MARKER_OPTION, open_store
from proglog_spark.sources.datasource import _bucket_dirs, _bucket_files

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("offset", T.LongType(), False),
        T.StructField("value", T.StringType(), False),
        T.StructField("term", T.LongType(), False),
        T.StructField("type", T.IntegerType(), False),
    ]
)

_META_FILE = "_proglog_meta.json"
_LOCK_FILE = "_proglog_writer.lock"
_DATA_COLS = ["offset", "value", "term", "type"]

# byte budget of the decoded row-group LRU behind native point reads;
# a row group decoding to more than this is served but not kept
_DECODED_CACHE_BYTES = 1 << 27  # 128 MiB in memory

# per-process write stamps of local log roots, {realpath: last tick}:
# every data mutation under a root takes a fresh tick when it ends,
# whether it raised or not, so a handle that remembers the tick its
# index was current at can tell whether any handle of this process has
# touched the root since (LogTable._trusts_index)
_TICKS = itertools.count(1)
_STAMPS: dict[str, int] = {}


class _BucketIndex:
    """Footer index of one bucket dir. ``files`` maps each committed
    file to ``(n_rows, ((min, max) offset per row group, ...))``; every
    row group is also kept sorted by first offset (``los``, ``spans`` of
    ``(lo, hi, file, g)`` and ``reach``, the running max of ``hi``), so a
    lookup bisects instead of walking the files. ``gen`` is the handle's
    index generation the entry was listed in."""

    __slots__ = ("files", "gen", "los", "spans", "reach")

    def __init__(self, files: dict[str, tuple[int, tuple]], gen: int) -> None:
        self.files = files
        self.gen = gen
        self.spans = sorted(
            (lo, hi, path, g)
            for path, (_, ranges) in files.items()
            for g, (lo, hi) in enumerate(ranges)
        )
        self.los = [s[0] for s in self.spans]
        self.reach = list(itertools.accumulate((s[1] for s in self.spans), max))

    def add(self, path: str, entry: tuple[int, tuple]) -> None:
        """Index a file a native append wrote: its offsets follow every
        indexed one, so its row groups go at the end, O(1) each."""
        self.files[path] = entry
        for g, (lo, hi) in enumerate(entry[1]):
            self.los.append(lo)
            self.spans.append((lo, hi, path, g))
            self.reach.append(max(hi, self.reach[-1]) if self.reach else hi)

    def groups(self, lo: int, hi: int) -> list[tuple[str, int]]:
        """``(file, row group)`` of every group whose range meets
        [lo, hi], in first-offset order: bisect to the last group
        starting at or before ``hi``, then step back while an earlier
        group can still reach ``lo`` (Spark-written files may overlap)."""
        out = []
        i = bisect.bisect_right(self.los, hi) - 1
        while i >= 0 and self.reach[i] >= lo:
            if self.spans[i][1] >= lo:
                out.append(self.spans[i][2:])
            i -= 1
        out.reverse()
        return out

    def bound(self, highest: bool) -> int | None:
        if not self.spans:
            return None
        return self.reach[-1] if highest else self.los[0]


def _footer_entry(meta, path: str) -> tuple[int, tuple]:
    """``(n_rows, ((min, max) offset per row group, ...))`` from a
    parquet footer; one without offset statistics raises ProglogError
    naming the file."""
    col = meta.schema.to_arrow_schema().get_field_index("offset")
    ranges = []
    for g in range(meta.num_row_groups):
        stats = meta.row_group(g).column(col).statistics
        if stats is None or not stats.has_min_max:
            raise ProglogError(f"{path}: row group {g} has no offset statistics")
        ranges.append((int(stats.min), int(stats.max)))
    return meta.num_rows, tuple(ranges)


class _PartialNativeAppend(RuntimeError):
    """A native append failed AFTER making a file prefix visible.

    The visible records form a contiguous dense prefix of the batch
    (renames happen in offset order), so the log is consistent — but
    the caller must NOT retry the whole batch (duplicate offsets).
    Reopen the table and continue from ``highest_offset() + 1``.
    """


class LogTable:
    """Append-only log with dense offsets over bucketed Parquet."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_size: int,
        initial_offset: int,
        max_records_per_file: int,
        row_group_bytes: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        # chosen once: a local dir is served in-process (pyarrow for
        # data, os for meta and lock); _root is None on a remote store,
        # whose data paths are Spark's
        self._store = open_store(spark, path)
        self._root = self._store.local_root
        # the root's key in _STAMPS; None on a remote store, whose
        # index is never trusted
        self._stamp_key = os.path.realpath(self._root) if self._root else None
        self.bucket_size = int(bucket_size)
        if int(initial_offset) < 0:
            # offsets are uint64 in the reference (api/v1/log.proto:9);
            # non-negativity keeps bucket div/floor-division identical
            raise ValueError(f"initial_offset must be >= 0, got {initial_offset}")
        self.initial_offset = int(initial_offset)
        self.max_records_per_file = int(max_records_per_file)
        # parquet row-group size for the data files (None = writer
        # default, ~128 MB groups). The point-read dial: the native read
        # path finds the row group in the footer index, then decodes
        # and caches that ONE group, so smaller groups mean a cheaper
        # cold Consume and finer LRU eviction at the cost of more
        # groups per scan. Persisted in meta.
        self.row_group_bytes = int(row_group_bytes) if row_group_bytes else None
        # Offsets never regress, even if truncation empties the log —
        # the reference keeps nextOffset in its active segment; we
        # persist the floor in the meta file.
        self.next_offset_floor = int(initial_offset)
        self._highest: int | None = None  # remote highest_offset cache
        # produce_stream idempotence marker (replayed micro-batches skip)
        self.last_produce_batch: int | None = None
        # checkpoint identity that wrote last_produce_batch (None on
        # metas written before the marker was checkpoint-scoped)
        self.last_produce_marker: str | None = None
        # footer index of the native read path, {bucket: _BucketIndex}:
        # committed parquet files are immutable, so a footer is read
        # once per file and a re-listed directory only adds or drops
        # entries. _dirs is the bucket list, {bucket: dir}, listed in
        # generation _dirs_gen.
        self._footers: dict[int, _BucketIndex] = {}
        self._dirs: dict[int, str] = {}
        self._dirs_gen = -1
        # decoded row groups, {(file, row group): (sorted offsets,
        # offset-sorted table)}, LRU within _DECODED_CACHE_BYTES — the
        # mmap-page-cache analog for µs-class warm point reads
        self._decoded: dict[tuple[str, int], tuple] = {}
        self._decoded_bytes = 0
        # whether the index may be served without re-listing (see
        # _trusts_index): _synced is the root's write stamp it was
        # last brought current at (None: never, or a fresh lock), and
        # _gen the generation an entry must carry to be trusted. Index
        # and LRU change under _index_lock: a ConsumeStream runs
        # consume_iter on the writer's handle beside its appends.
        self._synced: int | None = None
        self._gen = 0
        self._index_lock = threading.Lock()
        # cross-process writer lock state: _lock_owned ⇒ this instance
        # may mutate; _lock_created ⇒ it wrote the lock file and owes
        # the delete on close() (a same-pid sibling instance borrows
        # the file without adopting that responsibility)
        self._lock_owned = False
        self._lock_created = False
        # lease protocol (automatic failover, the Raft-election analog
        # of internal/log/distributed.go:99-162): the lock file carries
        # lease_expires_at; a daemon heartbeat renews it at half-life
        # for as long as the lock is held, and any process may reclaim
        # an EXPIRED lease without operator intervention. _lease_deadline
        # caches our last-written expiry so the unexpired fast path in
        # mutating calls costs zero IO; _fenced_owner records a takeover
        # the heartbeat discovered so the next mutating call raises
        # before touching data.
        import uuid

        self._lock_token = uuid.uuid4().hex
        self._lease_deadline = 0.0
        self._lease_mutex = threading.Lock()
        self._fenced_owner: dict | None = None
        self._hb_stop: threading.Event | None = None
        self._hb_thread: threading.Thread | None = None

    # ------------------------------------------------------------------
    # lifecycle (reference: log.go NewLog/setup/Reset/Remove, O16/O17)
    # ------------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        bucket_size: int = 1 << 20,
        initial_offset: int = 0,
        max_records_per_file: int = 1 << 22,
        row_group_bytes: int | None = None,
    ) -> "LogTable":
        """Create a new log dir (idempotent if meta matches; a config
        mismatch with an existing log raises instead of silently
        discarding the caller's arguments)."""
        log = cls(
            spark, path, bucket_size, initial_offset, max_records_per_file,
            row_group_bytes,
        )
        if log._store.exists(_META_FILE):
            existing = cls.open(spark, path)
            if (existing.bucket_size, existing.initial_offset) != (
                int(bucket_size),
                int(initial_offset),
            ):
                raise ValueError(
                    f"LogTable at {path} exists with bucket_size="
                    f"{existing.bucket_size}, initial_offset="
                    f"{existing.initial_offset}; requested ({bucket_size}, "
                    f"{initial_offset}) — open() it or choose a new path"
                )
            # the write-tuning knobs must not be silently discarded
            # either (docstring contract): raise when the caller
            # EXPRESSED a non-default value that differs from the
            # stored config (a caller passing the defaults is simply
            # reopening and inherits the stored tuning)
            if (
                max_records_per_file != 1 << 22
                and int(max_records_per_file) != existing.max_records_per_file
            ) or (
                row_group_bytes is not None
                and int(row_group_bytes) != (existing.row_group_bytes or 0)
            ):
                raise ValueError(
                    f"LogTable at {path} exists with max_records_per_file="
                    f"{existing.max_records_per_file}, row_group_bytes="
                    f"{existing.row_group_bytes}; requested "
                    f"({max_records_per_file}, {row_group_bytes}) — open() "
                    "inherits the stored tuning"
                )
            return existing
        log._store.mkdirs()
        log._write_meta()
        return log

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "LogTable":
        """Reopen an existing log from its meta file (recovery, O16)."""
        log = cls(spark, path, 1, 0, 1)
        if not log._store.exists(_META_FILE):
            raise FileNotFoundError(f"not a LogTable (missing {_META_FILE}): {path}")
        meta = json.loads(log._store.read(_META_FILE).decode("utf-8"))
        log.bucket_size = int(meta["bucket_size"])
        log.initial_offset = int(meta["initial_offset"])
        log.max_records_per_file = int(meta.get("max_records_per_file", 1 << 22))
        rgb = meta.get("row_group_bytes")
        log.row_group_bytes = int(rgb) if rgb else None
        log.next_offset_floor = int(meta.get("next_offset_floor", log.initial_offset))
        log.last_produce_batch = int(meta["last_produce_batch"]) if "last_produce_batch" in meta else None
        log.last_produce_marker = meta.get("last_produce_marker")
        # recovery MUTATES (finishes interrupted bucket swaps, sweeps
        # native tmp files) — running it while a LIVE writer holds the
        # lock would yank that writer's in-flight renames out from
        # under it; the live owner runs its own recovery, so a reader
        # opening alongside one simply skips it
        if not log._lock_owner_is_live():
            log._recover_truncate()
            log._sweep_native_tmp()
        return log

    def reset(self) -> None:
        """Drop all data, keep config (reference Log.Reset, log.go:123-128).

        Deletes the directory's CONTENTS but never the writer lock
        file, so ownership is held continuously across the reset —
        deleting the whole dir would open a window for another process
        to take a fresh lock mid-reset, and recreating the file would
        leave a borrowed (same-pid sibling) lock owned twice, letting
        the sibling's close() delete it out from under us.
        """
        self._store.mkdirs()
        self._acquire_writer_lock()
        with self._mutation():
            for name, _ in self._store.list():
                if name != _LOCK_FILE:
                    self._store.delete(name)
            self.next_offset_floor = self.initial_offset
            self._write_meta()
        self._highest = None

    # ------------------------------------------------------------------
    # cross-process writer lock (reference: per-log mutex + one serving
    # process, internal/log/log.go:81-82; here the mutex's cross-process
    # half is a create-if-absent lock file in the log dir)
    # ------------------------------------------------------------------

    # writer-lease duration: how long a SILENT writer's lock survives
    # before any other process may reclaim it. A live writer is never
    # silent — a daemon heartbeat renews at half-life for the whole
    # time the lock is held (including DURING long Spark jobs, so a
    # multi-minute append cannot be reclaimed out from under a live
    # writer). Size it for the worst-case PROCESS PAUSE (GC/VM freeze)
    # plus cross-host clock skew — both must stay well under
    # lease_seconds/2 — never for job duration. Override per instance
    # (tests use sub-second leases).
    lease_seconds: float = 60.0

    def _lock_owner_info(self) -> dict:
        import socket
        import time

        now = time.time()
        return {
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "acquired_at": round(now, 3),
            "token": self._lock_token,
            "lease_seconds": self.lease_seconds,
            "lease_expires_at": round(now + self.lease_seconds, 3),
        }

    def _owner_is_self(self, owner: dict) -> bool:
        """This process (any LogTable instance in it) wrote the lock.
        Token matches this instance; host+pid matches a same-process
        sibling (which cannot race us across processes)."""
        import socket

        if owner.get("token") == self._lock_token:
            return True
        return (
            owner.get("host") == socket.gethostname()
            and owner.get("pid") == os.getpid()
        )

    @staticmethod
    def _owner_lease_expired(owner: dict) -> bool:
        """True iff the lock file carries a lease that has lapsed.
        Legacy lock files without lease fields never expire (the
        pre-lease manual-steal contract applies to them)."""
        import time

        exp = owner.get("lease_expires_at")
        try:
            return exp is not None and float(exp) < time.time()
        except (TypeError, ValueError):
            return False

    def _try_create_lock(self) -> bool:
        """Atomically create the lock file; False if it already exists
        (any other store failure raises: it must not masquerade as a
        held lock and point the operator at steal_writer_lock)."""
        payload = json.dumps(self._lock_owner_info()).encode("utf-8")
        return self._store.create(_LOCK_FILE, payload)

    def _read_lock_owner(self) -> dict | None:
        try:
            return json.loads(self._store.read(_LOCK_FILE).decode("utf-8"))
        except Exception:
            return None  # missing, mid-write, or corrupt ⇒ caller retries

    @staticmethod
    def _pid_alive(pid) -> bool:
        try:
            os.kill(int(pid), 0)
        except (ProcessLookupError, TypeError, ValueError):
            return False
        except PermissionError:
            return True  # exists, owned by someone else
        return True

    def _reclaim_lock(self, expect_owner: dict) -> bool:
        """Atomically replace a STALE lock file with ours; False means
        another process won (caller re-enters the acquire loop and will
        see the fresh owner).

        The naive delete-then-create is racy: two processes can both
        diagnose staleness, one recreates the lock, and the other's
        queued delete removes the NEW lock — two live writers. On a
        local path the reclaim critical section is guarded by flock on
        the stale file's inode, with the owner RE-READ by path inside
        it (a competitor that opened before our replace blocks on the
        old inode; one that opens after reads our fresh owner and backs
        off). Remote stores have no flock — there
        :meth:`_reclaim_lock_remote` runs the create-then-VERIFY
        protocol instead.
        """
        if self._root is not None:
            return self._cas_lock_local(expect_owner)
        return self._reclaim_lock_remote(expect_owner)

    def _reclaim_lock_remote(self, expect_owner: dict) -> bool:
        """Reclaim on stores with only create-exclusive + delete (no
        flock, no conditional PUT). Bare delete-then-create lets two
        claimants that both observed the expired lease interleave —
        A deletes, A creates, B's queued delete removes A's NEW lock,
        B creates: two live writers. Narrowed to create-then-verify:

        1. re-read, and DELETE only while the content still equals the
           stale owner we diagnosed — a competitor's fresh lock is
           never deleted on the strength of a stale observation;
        2. create-exclusive carrying this instance's unique token;
        3. settle for a jittered delay, re-read, and claim ownership
           only if the surviving content carries OUR token — a
           claimant whose file was clobbered in the window backs off
           (never deleting the survivor), so the common interleavings
           end with at most one claimant past verify.

        The residual window (a competitor's delete delayed beyond the
        settle read) is documented, not closed — a store with
        conditional-PUT upgrades this to the local path's true CAS;
        lacking even that, ``steal_writer_lock`` remains the
        operator-supervised route.
        """
        import random
        import time

        if self._read_lock_owner() != expect_owner:
            return False  # someone already acted on the stale lock
        self._store.delete(_LOCK_FILE)
        if not self._try_create_lock():
            return False  # competitor's create beat ours
        time.sleep(min(self.lease_seconds / 10.0, 0.25) * (0.5 + random.random()))
        # token-exact (not _owner_is_self): two same-process instances
        # racing here must still elect a single winner. A None read is
        # retried — _read_lock_owner swallows transient store errors as
        # None, and treating a glitch as "we lost" would strand our own
        # surviving lock file (the acquire retry would then adopt it via
        # the same-pid sibling branch WITHOUT the created flag or a
        # heartbeat: no delete at close, fenced after one idle lease)
        for _ in range(5):
            cur = self._read_lock_owner()
            if cur is not None:
                return cur.get("token") == self._lock_token
            time.sleep(0.02)
        return False  # persistently gone: a competitor's delete won

    def _cas_lock_local(self, expect_owner: dict) -> bool:
        """flock-guarded compare-and-swap of the local lock file: write
        a fresh self._lock_owner_info() iff the current content still
        equals ``expect_owner``. Shared by stale-lock reclaim and
        live-lease renewal."""
        import fcntl

        try:
            fd = os.open(os.path.join(self._root, _LOCK_FILE), os.O_RDWR)
        except FileNotFoundError:
            return False  # vanished underneath us: retry the loop
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return False  # another reclaimer holds the section
            if self._read_lock_owner() != expect_owner:
                return False  # someone already replaced it
            self._store.write_atomic(
                _LOCK_FILE, json.dumps(self._lock_owner_info()).encode("utf-8")
            )
            return True
        finally:
            os.close(fd)

    def _renew_owned_lease(self) -> bool:
        """One renewal attempt for a lease this instance believes it
        owns; shared by the heartbeat and the mutating-call check.
        True ⇒ _lease_deadline advanced (we confirmed ownership in the
        store). False ⇒ FENCED: a foreign owner was observed, or
        ownership could not be re-confirmed while our lease may have
        lapsed — _fenced_owner is set and the owned flags are dropped,
        so the next mutating call raises before minting an offset.

        Local stores: flock'd CAS. A failed CAS is NOT trusted on a
        re-read alone (the racing reclaimer may hold the flock with its
        replace still in flight — a read here can show stale self-owned
        content); instead the attempt loops: each pass either CASes
        successfully, observes the foreign owner (fence), or adopts a
        same-process sibling's FRESH renewal. Ambiguity after the
        retries ⇒ fence (never assume).

        Remote stores (no CAS primitive): renewal is overwrite-create,
        sound only while our current lease is UNEXPIRED (no LEGAL
        reclaimer can exist inside a live lease, and the half-life
        heartbeat keeps a healthy writer inside it). If our own lease
        has already lapsed — process pause, beat missed — a legal
        reclaimer may be mid-takeover, and an overwrite could clobber
        its lock; the writer fences instead. (A conditional-PUT store
        would upgrade this to the local CAS semantics.)
        """
        import time

        with self._lease_mutex:
            if not (self._lock_owned and self._fenced_owner is None):
                return False
            if self._root is not None:
                for _ in range(40):
                    if not self._lock_owned:
                        return False  # released concurrently (close())
                    owner = self._read_lock_owner()
                    if owner is None:
                        # vanished (manual cleanup): reassert ownership
                        if self._try_create_lock():
                            self._lock_created = True  # we now owe the delete
                            self._drop_current()
                            self._lease_deadline = time.time() + self.lease_seconds
                            return True
                        continue
                    if not self._owner_is_self(owner):
                        return self._fence(owner)
                    if self._cas_lock_local(owner):
                        self._lease_deadline = time.time() + self.lease_seconds
                        return True
                    # CAS lost: reclaimer mid-swap or sibling renewal —
                    # adopt a sibling's FRESH lease, otherwise re-loop
                    fresh = self._read_lock_owner()
                    if (
                        fresh is not None
                        and self._owner_is_self(fresh)
                        and not self._owner_lease_expired(fresh)
                        and fresh != owner
                    ):
                        try:
                            self._lease_deadline = float(fresh["lease_expires_at"])
                            return True
                        except (KeyError, TypeError, ValueError):
                            pass
                    time.sleep(0.015)
                return self._fence(self._read_lock_owner() or {})
            # remote store
            owner = self._read_lock_owner()
            if owner is None:
                # vanished (manual cleanup): reassert ownership
                if self._try_create_lock():
                    self._lock_created = True
                    self._drop_current()
                    self._lease_deadline = time.time() + self.lease_seconds
                    return True
                owner = self._read_lock_owner()
            if owner is None or not self._owner_is_self(owner):
                return self._fence(owner or {})
            if time.time() >= self._lease_deadline:
                # our lease lapsed: a legal reclaimer may be mid-takeover
                # and overwrite-create would clobber its lock — fence
                # unless a same-process sibling already renewed
                if not self._owner_lease_expired(owner):
                    try:
                        self._lease_deadline = float(owner["lease_expires_at"])
                        return True
                    except (KeyError, TypeError, ValueError):
                        pass
                return self._fence(owner)
            payload = json.dumps(self._lock_owner_info()).encode("utf-8")
            self._store.create(_LOCK_FILE, payload, overwrite=True)
            self._lease_deadline = time.time() + self.lease_seconds
            return True

    def _fence(self, owner: dict) -> bool:
        """Record a discovered takeover: drop ownership so no further
        write can run, remember the observed owner for the error, and
        stop the heartbeat. Caller holds _lease_mutex."""
        self._fenced_owner = owner
        self._lock_owned = self._lock_created = False
        if self._hb_stop is not None:
            self._hb_stop.set()
        return False

    # ------------------------------------------------------------------
    # lease heartbeat: renews at half-life for as long as the lock is
    # held, so long-running mutating calls (a multi-minute append job)
    # can never be legally reclaimed mid-flight. The thread is a
    # daemon, started on acquisition and stopped by close()/fencing.
    # ------------------------------------------------------------------

    def _start_heartbeat(self) -> None:
        import threading

        if self._hb_thread is not None and self._hb_thread.is_alive():
            return
        stop = threading.Event()
        interval = max(self.lease_seconds / 2.0, 0.05)

        def _beat() -> None:
            while not stop.wait(interval):
                if not self._lock_owned or self._fenced_owner is not None:
                    return
                try:
                    if not self._renew_owned_lease():
                        return  # fenced: state recorded for next call
                except Exception:
                    # transient store error: the lease has half a life
                    # of slack — retry at the next beat
                    continue

        self._hb_stop = stop
        self._hb_thread = threading.Thread(
            target=_beat, name=f"proglog-lease-{id(self):x}", daemon=True
        )
        self._hb_thread.start()

    def _stop_heartbeat(self) -> None:
        """Stop the heartbeat and wait out a beat already in flight: a
        remote renewal overwrites the lock file, so one landing after
        this returns could clobber a lock written in the meantime."""
        if self._hb_stop is not None:
            self._hb_stop.set()
        if self._hb_thread is not None:
            self._hb_thread.join(timeout=max(self.lease_seconds / 2.0, 1.0))
        self._hb_thread = None

    def _lock_owner_is_live(self) -> bool:
        """True iff the lock file names an owner this process must not
        disturb: any foreign-host owner, or a same-host owner whose pid
        is alive and is not us."""
        import socket

        owner = self._read_lock_owner()
        if owner is None:
            return False
        if owner.get("host") != socket.gethostname():
            # cannot probe a foreign pid — the LEASE is the liveness
            # signal: unexpired (or legacy lease-less) ⇒ assume live
            return not self._owner_lease_expired(owner)
        pid = owner.get("pid")
        return pid != os.getpid() and self._pid_alive(pid)

    def _acquire_writer_lock(self, steal: bool = False) -> None:
        """Take (or validate) the exclusive writer lock for this path.

        Called by every mutating method. Outcomes: created the file
        (we own + owe the delete); file held by THIS pid (a sibling
        instance — borrow, same contract as the reference's in-process
        mutex); same-host owner whose pid is gone, or any owner whose
        LEASE has expired (the automatic-failover path — the analog of
        winning the Raft election after the old leader's heartbeats
        stop, internal/log/distributed.go:99-162) — reclaim; anything
        else raises ``WriterLockHeldError`` unless ``steal`` (operator
        override for legacy lease-less locks or a confirmed-dead owner
        whose lease hasn't lapsed yet).

        While owned, a daemon heartbeat renews the lease at half-life —
        including during long-running jobs — and every mutating call
        re-checks it at entry; a writer whose lease lapsed (process
        pause past lease_seconds) and was superseded is FENCED
        (``WriterLockLostError``) before it can mint a duplicate
        offset.
        """
        if self._lock_owned:
            self._verify_or_renew_lease()
            return
        if self._fenced_owner is not None and not steal:
            # first call after a fencing: report the takeover once (the
            # informative error), then clear — subsequent calls follow
            # the normal acquire contract (blocked by a live new owner,
            # able to reclaim a dead/expired one)
            fenced, self._fenced_owner = self._fenced_owner, None
            raise WriterLockLostError(self.path, fenced)
        import socket
        import time

        me = socket.gethostname()
        owner: dict = {}
        for _ in range(3):
            if self._try_create_lock():
                self._lock_owned = self._lock_created = True
                self._drop_current()
                self._fenced_owner = None  # a past fencing is history
                self._lease_deadline = time.time() + self.lease_seconds
                self._start_heartbeat()
                return
            owner = self._read_lock_owner()
            if owner is None:
                continue  # vanished or unreadable between steps — retry
            if owner.get("host") == me and owner.get("pid") == os.getpid():
                self._lock_owned = True  # sibling instance, same process
                self._fenced_owner = None
                if owner.get("token") == self._lock_token:
                    # OUR OWN file (a remote reclaim whose verify read
                    # glitched, then retried into this loop): this is a
                    # create, not a borrow — own the delete and run the
                    # heartbeat; no sibling exists to do either
                    self._lock_created = True
                    self._drop_current()
                    self._lease_deadline = time.time() + self.lease_seconds
                    self._start_heartbeat()
                    return
                # inherit the sibling's recorded expiry so our first
                # mutating call re-validates no later than it would
                try:
                    self._lease_deadline = float(
                        owner.get("lease_expires_at")
                        or time.time() + self.lease_seconds
                    )
                except (TypeError, ValueError):
                    self._lease_deadline = time.time() + self.lease_seconds
                return
            # a live same-host pid is ground truth even if its lease
            # lapsed (an idle writer renews at its next write and is
            # fenced if it lost) — never reclaim under a live local pid
            same_host_dead = owner.get("host") == me and not self._pid_alive(
                owner.get("pid")
            )
            expired = self._owner_lease_expired(owner) and not (
                owner.get("host") == me and self._pid_alive(owner.get("pid"))
            )
            if steal or same_host_dead or expired:
                if self._reclaim_lock(owner):
                    self._lock_owned = self._lock_created = True
                    self._drop_current()
                    self._fenced_owner = None
                    self._lease_deadline = time.time() + self.lease_seconds
                    self._start_heartbeat()
                    return
                continue  # lost the reclaim race: loop re-reads the owner
            raise WriterLockHeldError(self.path, owner)
        raise WriterLockHeldError(self.path, owner or {})

    def _verify_or_renew_lease(self) -> None:
        """Owned-path lease check at every mutating call's entry.

        Raises ``WriterLockLostError`` if the heartbeat (or this check)
        discovered a takeover. Costs zero IO while the recorded lease is
        inside its first half-life — the heartbeat normally keeps it
        there, so this almost always takes the fast path; past
        half-life (a paused process, a heartbeat that hasn't fired
        yet on a sub-second test lease) it runs one renewal attempt
        inline and fences on failure."""
        import time

        if self._fenced_owner is not None:
            raise WriterLockLostError(self.path, self._fenced_owner)
        if time.time() < self._lease_deadline - self.lease_seconds / 2:
            return
        if not self._renew_owned_lease():
            # only a RECORDED takeover is a fencing; renewal can also
            # fail because a concurrent close() dropped _lock_owned —
            # reporting that as WriterLockLostError(owner={}) would
            # blame a takeover (pid=None host=None) that never happened
            if self._fenced_owner is not None:
                raise WriterLockLostError(self.path, self._fenced_owner)
            raise ProglogError(
                f"writer lock for {self.path} was released concurrently "
                "(close() raced this mutating call); re-open to write"
            )

    def steal_writer_lock(self) -> None:
        """Forcibly take over the writer lock (operator action: only
        after confirming the recorded owner process is really gone —
        two live writers WILL mint duplicate offsets)."""
        self._acquire_writer_lock(steal=True)

    def close(self) -> None:
        """Release the writer lock (if this instance created it) and
        drop in-process caches. Reads need no close; idempotent."""
        self._stop_heartbeat()
        # the mutex excludes an in-flight heartbeat renewal: without it
        # a beat that lost its CAS could re-create the lock file right
        # after the delete below (zombie lock)
        with self._lease_mutex:
            created, self._lock_owned, self._lock_created = (
                self._lock_created,
                False,
                False,
            )
            if created:
                # only delete if the file is still OURS — after a lease
                # expiry + takeover, deleting would remove the NEW
                # owner's lock (a fenced writer must leave it alone)
                owner = self._read_lock_owner()
                if owner is None or self._owner_is_self(owner):
                    self._store.delete(_LOCK_FILE)
        with self._index_lock:
            self._synced = None
            self._footers.clear()
            self._dirs, self._dirs_gen = {}, -1
            self._decoded.clear()
            self._decoded_bytes = 0

    def _drop_current(self) -> None:
        """A fresh lock: whatever another process did before it is not
        in the index yet, so the next call re-lists."""
        with self._index_lock:
            self._synced = None

    def __enter__(self) -> "LogTable":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # ------------------------------------------------------------------
    # write path (reference: Log.Append O10, segment.Append O6)
    # ------------------------------------------------------------------

    def append(
        self,
        records: DataFrame | Iterable[str] | Iterable[tuple],
        order_by: Sequence[str] | None = None,
    ) -> tuple[int, int]:
        """Append a batch; returns (first_offset, last_offset) assigned.

        ``records`` is a DataFrame with columns (value[, term[, type]])
        or an iterable of strings / (value, term, type) tuples. Offsets
        are dense continuations of the current highest offset. The batch
        becomes visible atomically on parquet commit (the micro-batch
        analog of the reference's flush-before-read, store.go:63).
        """
        self._acquire_writer_lock()
        base = self._next_offset()
        if not isinstance(records, DataFrame):
            # Driver-side batch fast path: the input's order IS the
            # offset order (the reference's arrival-order contract),
            # and n is len() — so offsets and buckets are computed in
            # the driver and the append is ONE Spark job (the write),
            # instead of checkpoint + count + write. DataFrame appends
            # keep the distributed two-pass assignment below.
            return self._append_driver_batch(records, base, order_by)
        df = self._coerce(records)
        with_off, n = assign_dense_offsets(df, start=base, order_by=order_by)
        if n == 0:
            return (base, base - 1)
        with self._mutation():
            (
                # `div` (integer division) — double division drifts past
                # 2^53 and truncates-toward-zero; offsets are non-negative
                # by contract so div == the read paths' Python //
                self._apply_write_opts(
                    with_off.withColumn(
                        "bucket", F.expr(f"offset div {self.bucket_size}")
                    )
                    .select("bucket", *_DATA_COLS)
                    .write.mode("append")
                )
                .partitionBy("bucket")
                .parquet(self.path)
            )
        last = base + n - 1
        self._highest = last
        return (base, last)

    def _append_driver_batch(
        self, records, base: int, order_by: Sequence[str] | None
    ) -> tuple[int, int]:
        """Append an iterable already materialized in the driver:
        offsets/buckets stamped driver-side, one write job total."""
        rows = self._coerce_rows(records)
        if order_by:
            idx = {"value": 0, "term": 1, "type": 2}
            try:
                keys = [idx[c] for c in order_by]
            except KeyError as e:
                raise ValueError(f"unknown order_by column: {e}") from None
            rows.sort(key=lambda r: tuple(r[k] for k in keys))
        n = len(rows)
        if n == 0:
            return (base, base - 1)
        last = base + n - 1
        # A local path skips the Spark job entirely and writes the same
        # bucket-partitioned parquet via pyarrow: the produce hot path
        # is where the reference's O(1) buffered append lives, and this
        # removes the ~0.3-0.4 s job-scheduling floor per batch.
        if self._root is not None:
            self._append_native(rows, base)
            return (base, last)
        schema = "bucket LONG, offset LONG, value STRING, term LONG, type INT"
        if n >= 1000:
            try:
                import pandas as pd

                pdf = pd.DataFrame(rows, columns=["value", "term", "type"])
                pdf.insert(0, "offset", range(base, base + n))
                pdf.insert(0, "bucket", pdf["offset"] // self.bucket_size)
                sdf = self.spark.createDataFrame(pdf, schema=schema)
            except Exception:
                sdf = None
        else:
            sdf = None
        if sdf is None:
            stamped = [
                ((base + i) // self.bucket_size, base + i, *r)
                for i, r in enumerate(rows)
            ]
            sdf = self.spark.createDataFrame(stamped, schema=schema)
        with self._mutation():
            (
                self._apply_write_opts(
                    sdf.select("bucket", *_DATA_COLS).write.mode("append")
                )
                .partitionBy("bucket")
                .parquet(self.path)
            )
        self._highest = last
        return (base, last)

    def _sweep_native_tmp(self) -> None:
        """Remove crash-orphaned ``.native-*.tmp`` files (invisible to
        readers but occupying disk). Called from open(): the table is
        single-writer, so at open time no append is in flight and any
        dot-tmp file is dead weight from an interrupted native append.
        compact()'s whole-directory rewrite also clears them for
        buckets it touches; this covers the rest."""
        if self._root is None:
            return
        for _, bdir in _bucket_dirs(self._root):
            for f in os.listdir(bdir):
                if f.startswith(".native-") and f.endswith(".tmp"):
                    try:
                        os.remove(os.path.join(bdir, f))
                    except OSError:
                        pass

    def _append_native(self, rows: list[tuple], base: int) -> None:
        """Write a driver batch as bucket-partitioned parquet with
        pyarrow, no Spark job (local paths; remote stores go through
        the Spark committer).

        Layout/schema parity with the Spark writer: same bucket dirs,
        same column types (offset int64, value string, term int64,
        type int32), snappy compression, footer statistics (the
        pruning source), ``max_records_per_file`` splitting, and the
        ``row_group_bytes`` dial approximated in rows. Atomicity: each
        file lands as ``.native-*.tmp`` and renames into place —
        readers skip dot-files, so a crash leaves only invisible junk
        (removed by the next open() or compaction). A failure before
        any rename raises as itself with nothing visible; after one,
        it raises ``_PartialNativeAppend``.

        Each file's footer comes from the writer (``metadata_collector``)
        and its table is kept, so once the renames are done the index and
        the LRU take the new files without reading them back."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("offset", pa.int64()),
                ("value", pa.string()),
                ("term", pa.int64()),
                ("type", pa.int32()),
            ]
        )
        n = len(rows)
        # rows are in offset order (base + i): bucket boundaries are
        # contiguous slices. Two phases — write every file as a hidden
        # tmp, THEN rename all into place — so the visibility window
        # is the rename loop only. A crash mid-rename leaves a clean
        # contiguous offset prefix (renames happen in offset order);
        # recovery's next_offset = max(offset)+1 continues densely, the
        # same per-record-durability contract as the reference's
        # Log.Append.
        pending: list[tuple[str, str]] = []
        written = []  # (bucket, final path, footer entry, table) per file
        i = 0
        while i < n:
            off = base + i
            bucket = off // self.bucket_size
            bucket_end = min((bucket + 1) * self.bucket_size - base, n)
            j = i
            while j < bucket_end:
                k = min(j + self.max_records_per_file, bucket_end)
                chunk = rows[j:k]
                offs = list(range(base + j, base + k))
                tbl = pa.Table.from_arrays(
                    [
                        pa.array(offs, pa.int64()),
                        pa.array([r[0] for r in chunk], pa.string()),
                        pa.array([r[1] for r in chunk], pa.int64()),
                        pa.array([r[2] for r in chunk], pa.int32()),
                    ],
                    schema=schema,
                )
                bdir = os.path.join(self._root, f"bucket={bucket}")
                os.makedirs(bdir, exist_ok=True)
                name = f"native-{uuid.uuid4().hex}.parquet"
                tmp = os.path.join(bdir, f".{name}.tmp")
                kwargs = {"compression": "snappy"}
                if self.row_group_bytes:
                    avg = max(tbl.nbytes // max(len(chunk), 1), 1)
                    kwargs["row_group_size"] = max(
                        self.row_group_bytes // avg, 1
                    )
                footer: list = []
                pq.write_table(tbl, tmp, metadata_collector=footer, **kwargs)
                final = os.path.join(bdir, name)
                pending.append((tmp, final))
                written.append((bucket, final, _footer_entry(footer[0], final), tbl))
                j = k
            i = bucket_end
        renamed = 0
        try:
            for tmp, final in pending:
                os.replace(tmp, final)
                renamed += 1
        except Exception as e:
            self._index_written(written[:renamed], complete=False)
            if renamed == 0:
                for tmp, _ in pending:
                    try:
                        os.remove(tmp)
                    except OSError:
                        pass
                raise
            # a prefix is already live: retrying the batch would
            # duplicate those offsets. Surface the partial append (the
            # visible prefix is contiguous and dense; recovery continues
            # from max(offset), the reference's per-record contract).
            raise _PartialNativeAppend(
                f"native append made {renamed}/{len(pending)} files "
                f"visible before failing: {e}"
            ) from e
        self._index_written(written, complete=True)

    def _index_written(self, written: list, complete: bool) -> None:
        """Record a native append's renamed files: bump the write stamp,
        put their row groups in the LRU and, when the index was current
        before this append and the whole batch landed, add the files to
        their bucket entries and the bucket list and stay current."""
        with self._index_lock:
            current = complete and self._synced == self._stamp()
            stamp = self._bump()
            for bucket, path, entry, tbl in written:
                first = entry[1][0][0]  # the table's offsets are dense
                for g, (lo, hi) in enumerate(entry[1]):
                    part = tbl.slice(lo - first, hi - lo + 1)
                    self._lru_put((path, g), (part.column("offset").to_numpy(), part))
                if not current:
                    continue
                idx = self._footers.get(bucket)
                if idx is not None and idx.gen == self._gen:
                    idx.add(path, entry)
                elif self._dirs_gen == self._gen and bucket not in self._dirs:
                    # a bucket this append created holds just its files
                    self._footers[bucket] = _BucketIndex({path: entry}, self._gen)
                    self._dirs[bucket] = os.path.dirname(path)
                    if bucket < max(self._dirs):
                        self._dirs = dict(sorted(self._dirs.items()))
            if current:
                self._synced = stamp

    def consume_iter(
        self,
        from_offset: int = 0,
        poll_interval: float = 0.02,
        max_batch: int = 10_000,
        stop=None,
    ):
        """In-process ordered tail-follow: a generator yielding
        ``(offset, value, term, type)`` from ``from_offset``, polling
        for new data — the direct analog of the reference's
        ConsumeStream loop (server.go:138-158: read, send, advance,
        busy-retry on out-of-range), with ``poll_interval`` replacing
        the busy-wait. Batches are read through the footer index and
        the row-group LRU, so latency is poll_interval plus at most one
        row-group decode per group (none for a record the same handle
        appended), vs the micro-batch cycle (~0.6 s) of
        the Spark streaming path (`streaming/consume.tail_follow`),
        which remains the choice for checkpointed, multi-consumer,
        remote-store deployments; THIS is the low-latency in-process
        consumer. Gap-jumping matches the connector's stream reader:
        a cursor below the lowest surviving offset (truncation)
        advances to the first available record. Runs forever until
        ``stop`` (a ``threading.Event``) is set or the generator is
        closed. Local paths only (falls back by raising ValueError
        for remote stores — use the streaming path there)."""
        import time as _time

        if self._root is None:
            raise ValueError(
                "consume_iter needs a local log path; use "
                "streaming.consume.tail_follow for remote stores"
            )
        cursor = int(from_offset)
        while stop is None or not stop.is_set():
            # the footer index answers both bounds, so an idle poll
            # opens no dataset; offsets are dense between them, so the
            # first record at or past the cursor is max(cursor, lowest)
            hi = self.highest_offset()
            lo = self.lowest_offset() if hi is not None and hi >= cursor else None
            if lo is not None:
                lo = max(cursor, lo)
                rows = self._rows_native(lo, min(hi, lo + max_batch - 1))
                if rows:
                    for r in rows:
                        yield r
                    cursor = rows[-1][0] + 1
                    continue
            _time.sleep(poll_interval)

    # ------------------------------------------------------------------
    # read path (reference: Log.Read O11, Reader O15, ConsumeStream O21)
    # ------------------------------------------------------------------

    def df(self) -> DataFrame:
        """The log as a DataFrame (bucket partition column included)."""
        if self._is_empty_dir():
            return self.spark.createDataFrame([], self._full_schema())
        return self.spark.read.schema(self._full_schema()).parquet(self.path)

    def read(self, offset: int) -> Row:
        """Point lookup; raises OffsetOutOfRangeError on a miss (L1/L10).

        The two-level routing of reference log.go:99-104 + index.go: the
        offset names one bucket directory, and the footer index names
        the row group whose offset range holds it.

        On a local path the lookup runs in-process through pyarrow,
        no Spark job. The footer index (``_footer_index``) reads each
        file's footer once and bisects the bucket's row-group ranges;
        the row group is decoded once, sorted by offset, and kept in one
        LRU bounded by ``_DECODED_CACHE_BYTES``, so a warm read is a
        binary search — the analog of the reference's mmap read
        (internal/log/segment.go:66-79). The bucket dir is re-listed
        first unless the handle trusts its index (``_trusts_index``):
        the lease-holding writer's reads list nothing, and a record it
        appended is in the LRU already. A remote store runs the Spark
        plan instead; the test suite reads one log through both and
        pins equal answers.
        """
        offset = int(offset)
        if self._root is not None:
            return self._read_native(offset)
        rows = (
            self.df()
            .where(
                (F.col("bucket") == offset // self.bucket_size)
                & (F.col("offset") == offset)
            )
            .select(*_DATA_COLS)
            .collect()
        )
        if not rows:
            raise OffsetOutOfRangeError(offset)
        return rows[0]

    def _read_native(self, offset: int) -> Row:
        """In-process point read via pyarrow; a bucket directory that is
        absent or lacks the offset raises OffsetOutOfRangeError."""
        bucket = offset // self.bucket_size
        with self._index_lock:
            idx = self._footer_index(bucket, self._trusts_index())
            groups = idx.groups(offset, offset) if idx is not None else []
        for path, g in groups:
            offs, tbl = self._row_group(path, g)
            i = int(offs.searchsorted(offset))
            if i < len(offs) and int(offs[i]) == offset:
                return Row(**{c: tbl.column(c)[i].as_py() for c in _DATA_COLS})
        raise OffsetOutOfRangeError(offset)

    def _rows_native(self, lo: int, hi: int) -> list[tuple]:
        """``(offset, value, term, type)`` for lo <= offset <= hi, in
        offset order, through the footer index and the LRU."""
        with self._index_lock:
            trusted = self._trusts_index()
            groups = []
            for bucket in range(lo // self.bucket_size, hi // self.bucket_size + 1):
                idx = self._footer_index(bucket, trusted)
                if idx is not None:
                    groups.extend(idx.groups(lo, hi))
        rows = []
        for path, g in groups:
            offs, tbl = self._row_group(path, g)
            i = int(offs.searchsorted(lo))
            part = tbl.slice(i, int(offs.searchsorted(hi, side="right")) - i)
            rows.extend(zip(*(part.column(c).to_pylist() for c in _DATA_COLS)))
        rows.sort(key=lambda r: r[0])
        return rows

    def _trusts_index(self) -> bool:
        """Whether this call may serve the in-memory index without
        re-listing; the caller holds ``_index_lock``.

        Only while this handle created the writer lock, is not fenced,
        and is inside its lease's first half-life: then no other process
        can commit (the same trust ``_verify_or_renew_lease`` places in
        the lease). A write by any handle of this process since the
        index was last current moves the root's write stamp; that
        starts a new generation, so every entry is re-listed once on
        its next use. A handle's own native append keeps it current."""
        if not (
            self._lock_created
            and self._fenced_owner is None
            and time.time() < self._lease_deadline - self.lease_seconds / 2
        ):
            return False
        stamp = self._stamp()
        if stamp != self._synced:
            self._gen += 1
            self._synced = stamp
        return True

    def _bucket_list(self, trusted: bool) -> dict[int, str]:
        """``{bucket: dir}`` in bucket order; re-listed unless trusted
        and listed in this generation. Index entries of buckets gone
        from the listing (truncation) are dropped."""
        if not (trusted and self._dirs_gen == self._gen):
            self._dirs, self._dirs_gen = dict(_bucket_dirs(self._root)), self._gen
            for gone in self._footers.keys() - self._dirs.keys():
                del self._footers[gone]
        return self._dirs

    def _footer_index(self, bucket: int, trusted: bool) -> _BucketIndex | None:
        """The footer index of the committed files of one bucket, None
        when its dir is absent; the caller holds ``_index_lock``.

        A trusted call serves an entry listed in this generation as is,
        and a bucket missing from a bucket list of this generation as
        absent. Otherwise the directory is re-listed, so files committed
        by any writer are picked up and deleted ones drop out; a footer
        is read only for a file not indexed before, and an unchanged
        listing keeps the entry as is."""
        import pyarrow.parquet as pq

        idx = self._footers.get(bucket)
        if trusted and idx is not None and idx.gen == self._gen:
            return idx
        if trusted and self._dirs_gen == self._gen and bucket not in self._dirs:
            return None
        try:
            files = _bucket_files(os.path.join(self._root, f"bucket={bucket}"))
        except FileNotFoundError:
            self._footers.pop(bucket, None)
            return None
        known = idx.files if idx is not None else {}
        if idx is None or known.keys() != set(files):
            idx = self._footers[bucket] = _BucketIndex(
                {
                    path: known.get(path)
                    or _footer_entry(pq.read_metadata(path), path)
                    for path in files
                },
                self._gen,
            )
        idx.gen = self._gen
        return idx

    def _row_group(self, path: str, g: int) -> tuple:
        """Row group ``g`` of ``path`` decoded as (sorted offsets,
        offset-sorted table), through the LRU (``_lru_put``)."""
        import pyarrow.dataset as pads

        key = (path, g)
        with self._index_lock:
            hit = self._decoded.pop(key, None)
            if hit is not None:
                self._decoded[key] = hit  # to the back
                return hit
        frag = next(pads.dataset(path, format="parquet").get_fragments())
        tbl = frag.subset(row_group_ids=[g]).to_table(columns=_DATA_COLS)
        offs = tbl.column("offset").to_numpy()
        if (offs[1:] < offs[:-1]).any():  # Spark writes need not sort
            tbl = tbl.sort_by("offset")
            offs = tbl.column("offset").to_numpy()
        hit = (offs, tbl)
        with self._index_lock:
            self._lru_put(key, hit)
        return hit

    def _lru_put(self, key: tuple[str, int], hit: tuple) -> None:
        """Keep a decoded group at the back of the LRU, evicting from
        the front until the budget holds; a group larger than the whole
        budget is not kept. The caller holds ``_index_lock``."""
        nbytes = hit[1].nbytes
        if nbytes > _DECODED_CACHE_BYTES:
            return
        old = self._decoded.pop(key, None)
        if old is not None:
            self._decoded_bytes -= old[1].nbytes
        self._decoded[key] = hit
        self._decoded_bytes += nbytes
        while self._decoded_bytes > _DECODED_CACHE_BYTES:
            self._decoded_bytes -= self._decoded.pop(next(iter(self._decoded)))[1].nbytes

    def scan(self, lo: int, hi: int) -> DataFrame:
        """Ordered range scan, offsets in [lo, hi] (L5)."""
        return (
            self.df()
            .where(
                (F.col("bucket") >= int(lo) // self.bucket_size)
                & (F.col("bucket") <= int(hi) // self.bucket_size)
                & (F.col("offset") >= int(lo))
                & (F.col("offset") <= int(hi))
            )
            .select(*_DATA_COLS)
            .orderBy("offset")
        )

    def consume_from(self, offset: int) -> DataFrame:
        """All records with offset >= k, ordered (batch ConsumeStream, L7)."""
        return (
            self.df()
            .where(
                (F.col("bucket") >= int(offset) // self.bucket_size)
                & (F.col("offset") >= int(offset))
            )
            .select(*_DATA_COLS)
            .orderBy("offset")
        )

    def tail(self, n: int) -> DataFrame:
        """Last n records in ascending offset order (L6).

        Computed from the cheap highest_offset() + a pruned range scan —
        never a global ORDER BY DESC LIMIT over the whole log.
        """
        hi = self.highest_offset()
        if hi is None:
            return self.df().select(*_DATA_COLS).limit(0)
        return self.scan(max(self.initial_offset, hi - int(n) + 1), hi)

    def reader(self) -> DataFrame:
        """Full ordered scan (reference Log.Reader O15 / FSM snapshot src)."""
        return self.df().select(*_DATA_COLS).orderBy("offset")

    # ------------------------------------------------------------------
    # aggregates (reference: LowestOffset O12 / HighestOffset O13)
    # ------------------------------------------------------------------

    def lowest_offset(self) -> int | None:
        """min(offset), None when empty — from the footer index on a
        local path (/bounds calls this per request and must not pay a
        Spark job), else a stats-pruned Spark scan walking buckets
        ascending (a truncate-emptied boundary bucket must not shadow
        later ones)."""
        if self._root is not None:
            return self._native_bound(highest=False)
        for b in self._buckets():
            row = (
                self.df()
                .where(F.col("bucket") == b)
                .agg(F.min("offset").alias("m"))
                .collect()[0]
            )
            if row["m"] is not None:
                return int(row["m"])
        return None

    def _native_bound(self, highest: bool) -> int | None:
        """min offset (max with ``highest``) from the footer index, None
        when empty: walk the bucket dirs up (down) and answer from the
        first bucket holding rows — a truncate-emptied boundary bucket
        must not shadow later ones. Re-lists the bucket dirs and the
        bucket it answers from unless the index is trusted
        (``_trusts_index``)."""
        with self._index_lock:
            trusted = self._trusts_index()
            buckets = self._bucket_list(trusted).keys()
            for bucket in reversed(buckets) if highest else buckets:
                idx = self._footer_index(bucket, trusted)
                end = idx.bound(highest) if idx is not None else None
                if end is not None:
                    return end
        return None

    def highest_offset(self) -> int | None:
        """max(offset), None when empty.

        The reference returns 0 for both empty and single-record logs
        (log.go:144-153); we deliberately disambiguate with None
        (SURVEY.md §7.3.4). Only the max bucket directory is read. A
        local path answers from the footer index, re-listing the bucket
        dirs and the top bucket on every call unless the handle trusts
        its index (``_trusts_index``), so a handle sees other handles'
        appends; a remote store caches the Spark answer until this
        handle appends or truncates.
        """
        if self._root is not None:
            return self._native_bound(highest=True)
        if self._highest is not None:
            return self._highest
        buckets = self._buckets()
        if not buckets:
            return None
        row = (
            self.df()
            .where(F.col("bucket") == max(buckets))
            .agg(F.max("offset").alias("m"))
            .collect()[0]
        )
        self._highest = None if row["m"] is None else int(row["m"])
        return self._highest

    def count(self) -> int:
        """Record count. Offsets are dense, so count = hi - lo + 1 —
        two stats-pruned single-bucket reads, never a full scan (L4)."""
        lo, hi = self.lowest_offset(), self.highest_offset()
        if lo is None or hi is None:
            return 0
        return hi - lo + 1

    # ------------------------------------------------------------------
    # retention (reference: Log.Truncate O14)
    # ------------------------------------------------------------------

    def truncate(self, lowest: int) -> None:
        """Remove every record with offset <= lowest (exact semantics, L9).

        The reference drops whole segments conservatively
        (log.go:160-166); we declare exact truncation: whole bucket
        directories strictly below the boundary are dropped O(1), and
        only the single boundary bucket is rewritten.
        """
        self._acquire_writer_lock()
        lowest = int(lowest)
        boundary = (lowest + 1) // self.bucket_size  # first bucket that may survive
        with self._mutation():
            for b in self._buckets():
                if (b + 1) * self.bucket_size - 1 <= lowest:
                    self._store.delete(f"bucket={b}")
                elif b == boundary and b * self.bucket_size <= lowest:
                    self._rewrite_bucket(b, lowest)
        self._highest = None
        if lowest + 1 > self.next_offset_floor:
            self.next_offset_floor = lowest + 1
            self._write_meta()

    def _rewrite_bucket(
        self, bucket: int, lowest: int, coalesce_to: int | None = None
    ) -> None:
        """Rewrite one bucket crash-safely (truncate boundary and
        compaction share this path — a compaction is a rewrite whose
        predicate keeps everything).

        Protocol (every step leaves a state ``_recover_truncate`` rolls
        forward): (1) write survivors fully into a hidden
        ``.truncate-new-<b>`` dir, (2)-(4) ``Store.swap``: rename the
        live bucket aside to ``.truncate-old-<b>``, rename the new dir
        into place, drop the old. Every rename is checked: a failed
        swap must raise, not report success while the meta advances
        past records still on disk.
        """
        live, new, aside = (
            f"bucket={bucket}", f".truncate-new-{bucket}", f".truncate-old-{bucket}"
        )
        survivors = (
            self.spark.read.schema(RECORD_SCHEMA)
            .parquet(f"{self.path}/{live}")
            .where(F.col("offset") > lowest)
        )
        if coalesce_to is not None:
            survivors = survivors.coalesce(coalesce_to)
        self._store.delete(new)
        # maxRecordsPerFile is the hard roll guarantee: coalesce only
        # merges read splits, so uneven input files could otherwise
        # produce an oversized output file. No _SUCCESS marker: only
        # data files move into place.
        self._apply_write_opts(
            survivors.write.mode("overwrite").option(SUCCESS_MARKER_OPTION, "false")
        ).parquet(f"{self.path}/{new}")
        self._store.delete(aside)  # a stale aside from an earlier crash
        self._store.swap(live, new, aside)

    def _recover_truncate(self) -> None:
        """Finish an interrupted bucket rewrite (called from open(),
        mirroring reference crash recovery O16): survivors written in
        full are rolled forward, a partial new dir is discarded."""
        names = {name for name, _ in self._store.list()}
        stale = sorted(name for name in names if name.startswith(".truncate-"))
        if not stale:
            return
        with self._mutation():
            for name in stale:
                b = name.rsplit("-", 1)[1]
                if name.startswith(".truncate-new-"):
                    if f"bucket={b}" not in names:
                        # died between (2) and (3): survivors are complete
                        # (they were written before the bucket moved aside)
                        self._store.rename(name, f"bucket={b}")
                    else:
                        # died before (2): live bucket untouched; the new
                        # dir may be partial — discard it
                        self._store.delete(name)
                elif name.startswith(".truncate-old-"):
                    if f"bucket={b}" in names or f".truncate-new-{b}" in names:
                        self._store.delete(name)  # survivors are (or go) live
                    else:
                        # paranoia: old exists and bucket missing with no
                        # new dir — restore the old bucket untruncated
                        self._store.rename(name, f"bucket={b}")

    # ------------------------------------------------------------------
    # compaction (maintenance; reference analog: segment roll keeps
    # files bounded at write time, segment.go:81-83 — under Spark the
    # same pressure appears as one parquet file per append batch)
    # ------------------------------------------------------------------

    def compact(self, max_files_per_bucket: int = 1) -> int:
        """Rewrite buckets holding more than ``max_files_per_bucket``
        parquet files into ``ceil(rows / max_records_per_file)`` files
        (at least one). Returns the number of buckets rewritten.

        This is THE standing maintenance job for any streaming-written
        log table: every append/produce batch commits its own file, so
        a tail bucket written by 10k micro-batches is 10k tiny files —
        correct, but each read pays per-file open cost and the
        NameNode/listing pays per-file metadata. Offsets, bucket
        routing, and batch reader results are unchanged (asserted by
        tests); each bucket swap is atomic and crash-recoverable via
        the same protocol as truncation, and single-writer semantics
        mean no concurrent appender can race the swap.

        Streaming-reader caveat: a live ``consume_stream`` tracks seen
        parquet files BY PATH, so it ignores the removed originals
        (ignoreMissingFiles) and then lists the compacted files as
        new — re-delivering the bucket's records. Either run
        compaction when no tail query is active (the reference's
        analog: its log mutex serializes maintenance against readers),
        or wrap the tail in ``streaming.dedup_stream(by='offset')``,
        which exists precisely to absorb at-least-once re-delivery.
        """
        self._acquire_writer_lock()
        compacted = 0
        with self._mutation():
            for b in self._buckets():
                n_files = sum(
                    1
                    for name, _ in self._store.list(f"bucket={b}")
                    if name.endswith(".parquet")
                )
                if n_files <= max_files_per_bucket:
                    continue
                rows = (
                    self.spark.read.schema(RECORD_SCHEMA)
                    .parquet(f"{self.path}/bucket={b}")
                    .count()
                )
                target = max(1, -(-rows // self.max_records_per_file))
                if target >= n_files:
                    continue
                self._rewrite_bucket(b, lowest=-1, coalesce_to=target)
                compacted += 1
        return compacted

    # ------------------------------------------------------------------
    # snapshot / restore (reference: fsm.Snapshot O28 / Restore O29)
    # ------------------------------------------------------------------

    def snapshot(self, out_path: str) -> None:
        """Export the whole log (reference streams Log.Reader to a sink)."""
        self.df().select(*_DATA_COLS).write.mode("overwrite").parquet(out_path)

    @classmethod
    def restore(
        cls,
        spark: SparkSession,
        snapshot_path: str,
        path: str,
        bucket_size: int = 1 << 20,
    ) -> "LogTable":
        """Rebuild a log from a snapshot; initial_offset becomes the
        snapshot's first offset (reference distributed_fsm.go:71-76)."""
        snap = spark.read.schema(RECORD_SCHEMA).parquet(snapshot_path)
        first = snap.agg(F.min("offset")).collect()[0][0]
        log = cls(
            spark,
            path,
            bucket_size=bucket_size,
            initial_offset=int(first) if first is not None else 0,
            max_records_per_file=1 << 22,
        )
        log.reset()
        if first is None:
            return log
        with log._mutation():
            (
                snap.withColumn("bucket", F.expr(f"offset div {int(bucket_size)}"))
                .select("bucket", *_DATA_COLS)
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(path)
            )
        return log

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------

    @contextlib.contextmanager
    def _mutation(self):
        """Around a data mutation: moves the root's write stamp when the
        body ends, raised or not, so no handle of this process serves a
        half-done change from an index listed before it."""
        try:
            yield
        finally:
            self._bump()

    def _stamp(self) -> int:
        """The root's write stamp in this process (0 before any write)."""
        return _STAMPS.get(self._stamp_key, 0)

    def _bump(self) -> int:
        """Move the root's write stamp to a fresh tick (local roots)."""
        tick = next(_TICKS)
        if self._stamp_key is not None:
            _STAMPS[self._stamp_key] = tick
        return tick

    def _apply_write_opts(self, w):
        w = w.option("maxRecordsPerFile", self.max_records_per_file)
        if self.row_group_bytes:
            w = w.option("parquet.block.size", str(self.row_group_bytes))
        return w

    @staticmethod
    def _coerce_rows(records) -> list[tuple]:
        rows = []
        for r in records:
            if isinstance(r, str):
                rows.append((r, 0, 0))
            else:
                value, term, typ = (tuple(r) + (0, 0))[:3]
                rows.append((str(value), int(term), int(typ)))
        return rows

    def _coerce(self, records) -> DataFrame:
        if isinstance(records, DataFrame):
            df = records
            if "term" not in df.columns:
                df = df.withColumn("term", F.lit(0).cast("long"))
            if "type" not in df.columns:
                df = df.withColumn("type", F.lit(0).cast("int"))
            return df.select(
                F.col("value").cast("string"),
                F.col("term").cast("long"),
                F.col("type").cast("int"),
            )
        rows = self._coerce_rows(records)
        # Arrow-serialize driver-side batches: a pandas DataFrame rides
        # the Arrow fast path into the JVM (~3x faster than pickling
        # row tuples at 10^4+ records); tiny batches skip the detour.
        if len(rows) >= 1000:
            try:
                import pandas as pd

                pdf = pd.DataFrame(rows, columns=["value", "term", "type"])
                return self.spark.createDataFrame(
                    pdf, schema="value STRING, term LONG, type INT"
                )
            except Exception:
                pass
        return self.spark.createDataFrame(
            rows, schema="value STRING, term LONG, type INT"
        )

    def _next_offset(self) -> int:
        """Next dense offset, from the store's truth rather than a
        cache: a local path re-lists the tail bucket through the footer
        index (reading only footers it has not indexed yet) unless the
        handle trusts its index, a remote one re-runs its max-bucket
        scan. So a second handle on the same directory — out of contract
        but easy to do accidentally — continues from the real maximum
        and cannot double-assign offsets: its writes move the write
        stamp, and the lease keeps other processes out."""
        self._highest = None
        hi = self.highest_offset()
        nxt = self.initial_offset if hi is None else hi + 1
        return max(nxt, self.next_offset_floor)

    def _full_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField("bucket", T.LongType(), True), *RECORD_SCHEMA.fields]
        )

    def files(self) -> DataFrame:
        """Physical-layout introspection: one row per committed data
        file — (bucket, file, n_rows, min_offset, max_offset, bytes).

        The queryable analog of the reference's segment list
        (internal/log/log.go:39-68 walks `<base>.store` files; here the
        parquet footers carry the same base/next information as row
        counts + offset statistics). Everything comes from FOOTERS —
        no data pages are read — so this is the tool for answering
        "which files does offset k route to", auditing `compact()`
        debt (files per bucket vs max_records_per_file), and verifying
        truncate boundaries, at metadata cost.

        A local path reads the footer index, in-process. A remote store
        runs a Spark job grouping by input file — same schema, scan cost
        instead of footer cost, and ``bytes`` is -1.
        """
        schema = (
            "bucket long, file string, n_rows long, "
            "min_offset long, max_offset long, bytes long"
        )
        if self._root is not None:
            with self._index_lock:
                trusted = self._trusts_index()
                listed = [
                    (b, list(idx.files.items()))
                    for b in self._bucket_list(trusted)
                    if (idx := self._footer_index(b, trusted)) is not None
                ]
            rows = []
            for b, files in listed:
                for path, (n_rows, ranges) in files:
                    # a truncate-emptied boundary bucket leaves a
                    # schema-only part file: 0 row groups, no stats
                    lo = min((r[0] for r in ranges), default=None)
                    hi = max((r[1] for r in ranges), default=None)
                    rows.append(
                        (b, os.path.basename(path), n_rows, lo, hi,
                         os.path.getsize(path))
                    )
            return self.spark.createDataFrame(rows, schema)
        return (
            self.df()
            .groupBy("bucket", F.input_file_name().alias("file"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
                F.lit(-1).cast("long").alias("bytes"),
            )
        )

    def _buckets(self) -> list[int]:
        """Bucket directory listing — the catalog of 'segments' (O16)."""
        return sorted(
            int(name.split("=", 1)[1])
            for name, is_dir in self._store.list()
            if is_dir and name.startswith("bucket=")
        )

    def _is_empty_dir(self) -> bool:
        return not self._buckets()

    def _write_meta(self) -> None:
        meta = {
            "bucket_size": self.bucket_size,
            "initial_offset": self.initial_offset,
            "max_records_per_file": self.max_records_per_file,
            "row_group_bytes": self.row_group_bytes,
            "next_offset_floor": self.next_offset_floor,
            "format": "proglog_spark/v1",
        }
        if self.last_produce_batch is not None:
            meta["last_produce_batch"] = self.last_produce_batch
            if self.last_produce_marker is not None:
                meta["last_produce_marker"] = self.last_produce_marker
        # atomic: produce_stream rewrites the meta once per micro-batch,
        # and a crash mid-write must never leave truncated JSON (an
        # unopenable log)
        self._store.write_atomic(_META_FILE, json.dumps(meta).encode("utf-8"))
