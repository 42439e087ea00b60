"""Cross-process single-writer lock (reference: per-log mutex +
one serving process per log dir, internal/log/log.go:81-82).

The reference never has two processes on one log; under Spark a
second driver opening the same path is one typo away, so the mutex's
cross-process half is a create-if-absent lock file. These tests fake
the "other process" by writing foreign owner JSON into the lock file:
pid 1 is always alive (the live-writer case), a reaped child pid is
definitely dead (the crashed-writer case).
"""

from __future__ import annotations

import json
import os
import socket
import subprocess

import pytest

from conftest import on_store
from proglog_spark.errors import WriterLockHeldError
from proglog_spark.log.table import _LOCK_FILE, LogTable


def _lock_path(path: str) -> str:
    return os.path.join(path, _LOCK_FILE)


def _plant_foreign_lock(path: str, pid: int) -> None:
    with open(_lock_path(path), "w") as fh:
        json.dump(
            {"pid": pid, "host": socket.gethostname(), "acquired_at": 0.0}, fh
        )


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_second_live_writer_raises(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a", "b"])
    # simulate another live process holding the lock (pid 1 is init —
    # always alive, never us)
    _plant_foreign_lock(path, pid=1)
    other = LogTable.open(spark, path)
    with pytest.raises(WriterLockHeldError):
        other.append(["c"])
    # mutation paths all gate on the same lock
    with pytest.raises(WriterLockHeldError):
        other.truncate(0)
    with pytest.raises(WriterLockHeldError):
        other.compact()
    # reads never need the lock
    assert other.read(1).value == "b"


def test_crashed_writer_lock_is_reclaimed(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a"])
    _plant_foreign_lock(path, pid=_dead_pid())
    reopened = LogTable.open(spark, path)
    first, last = reopened.append(["b"])  # stale same-host lock reclaimed
    assert (first, last) == (1, 1)
    # and the reclaimer now owns the file
    owner = json.load(open(_lock_path(path)))
    assert owner["pid"] == os.getpid()


def test_steal_override_for_foreign_live_owner(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a"])
    _plant_foreign_lock(path, pid=1)
    other = LogTable.open(spark, path)
    with pytest.raises(WriterLockHeldError):
        other.append(["b"])
    other.steal_writer_lock()
    assert other.append(["b"]) == (1, 1)


def test_sibling_instances_in_one_process_share_the_lock(spark, tmp_path):
    # the reference's in-process mutex scope: same process may hold
    # several handles; serialization inside the process is the
    # caller's contract, the file only fences OTHER processes
    path = str(tmp_path / "log")
    a = LogTable.create(spark, path, bucket_size=8)
    a.append(["x"])
    b = LogTable.open(spark, path)
    assert b.append(["y"]) == (1, 1)
    # only the creator deletes on close; the borrower's close is a no-op
    b.close()
    assert os.path.exists(_lock_path(path))
    a.close()
    assert not os.path.exists(_lock_path(path))


def test_close_releases_and_context_manager(spark, tmp_path):
    path = str(tmp_path / "log")
    with LogTable.create(spark, path, bucket_size=8) as log:
        log.append(["a"])
        assert os.path.exists(_lock_path(path))
    assert not os.path.exists(_lock_path(path))
    # a later process (fresh instance) can now take over cleanly
    _plant_foreign_lock(path, pid=_dead_pid())  # even over stale debris
    nxt = LogTable.open(spark, path)
    assert nxt.append(["b"]) == (1, 1)
    nxt.close()


def test_reset_keeps_ownership(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a", "b", "c"])
    before = os.stat(_lock_path(path)).st_ino
    log.reset()  # clears contents but must hold the lock throughout
    assert os.path.exists(_lock_path(path))
    # the SAME lock file survives (never deleted+recreated: a delete
    # would open a takeover window mid-reset, and a recreate would
    # double-own a borrowed sibling lock)
    assert os.stat(_lock_path(path)).st_ino == before
    assert json.load(open(_lock_path(path)))["pid"] == os.getpid()
    assert log.append(["d"]) == (0, 0)


def test_reset_by_borrowing_sibling_does_not_hijack_the_delete(spark, tmp_path):
    # creator instance owns the delete; a sibling that borrowed the
    # lock and then reset() must NOT become a second "creator" — after
    # the creator closes, the sibling's close must not delete a lock
    # it never created (two live writers otherwise)
    path = str(tmp_path / "log")
    creator = LogTable.create(spark, path, bucket_size=8)
    creator.append(["a"])
    sibling = LogTable.open(spark, path)
    sibling.reset()
    assert sibling._lock_created is False
    creator.close()  # creator still owes (and performs) the delete
    assert not os.path.exists(_lock_path(path))
    sibling.close()  # must be a no-op, not a crash


def test_lock_file_is_invisible_to_readers(spark, tmp_path):
    # underscore-prefixed files are ignored by parquet discovery: the
    # full-scan reader and the files() inventory must not trip on it
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=4)
    log.append([str(i) for i in range(10)])
    assert log.reader().count() == 10
    assert log.count() == 10


# ---------------------------------------------------------------------------
# lease-based automatic failover (the Raft-election analog,
# internal/log/distributed.go:99-162): an expired lease is reclaimable
# by ANY process with no operator action; a writer that outlives its
# own lease is fenced at its next mutating call.
# ---------------------------------------------------------------------------


def _plant_lease_lock(path: str, host: str, expires_in: float, pid: int = 1) -> None:
    import time

    now = time.time()
    with open(_lock_path(path), "w") as fh:
        json.dump(
            {
                "pid": pid,
                "host": host,
                "acquired_at": now,
                "token": "someone-else",
                "lease_seconds": 0.5,
                "lease_expires_at": now + expires_in,
            },
            fh,
        )


def test_expired_foreign_lease_is_reclaimed_automatically(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a"])
    log.close()
    _plant_lease_lock(path, host="some-dead-remote-host", expires_in=-5.0)
    other = LogTable.open(spark, path)
    # no steal_writer_lock() needed: the lapsed lease IS the death cert
    assert other.append(["b"]) == (1, 1)
    owner = json.load(open(_lock_path(path)))
    assert owner["pid"] == os.getpid()
    other.close()


def test_unexpired_foreign_lease_blocks(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a"])
    log.close()
    _plant_lease_lock(path, host="some-live-remote-host", expires_in=3600.0)
    other = LogTable.open(spark, path)
    with pytest.raises(WriterLockHeldError):
        other.append(["b"])


def test_legacy_leaseless_foreign_lock_still_requires_steal(spark, tmp_path):
    # lock files written before the lease protocol never expire: the
    # manual steal_writer_lock() contract continues to apply to them
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a"])
    log.close()
    with open(_lock_path(path), "w") as fh:
        json.dump({"pid": 1, "host": "some-remote-host", "acquired_at": 0.0}, fh)
    other = LogTable.open(spark, path)
    with pytest.raises(WriterLockHeldError):
        other.append(["b"])
    other.steal_writer_lock()
    assert other.append(["b"]) == (1, 1)
    other.close()


def test_live_writer_renews_lease_at_half_life(spark, tmp_path):
    import time

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.lease_seconds = 1.0
    log.append(["a"])
    first_expiry = json.load(open(_lock_path(path)))["lease_expires_at"]
    time.sleep(0.6)  # past half-life, before expiry
    log.append(["b"])  # must renew, not merely succeed
    second_expiry = json.load(open(_lock_path(path)))["lease_expires_at"]
    assert second_expiry > first_expiry
    log.close()


def test_writer_never_expires_while_actively_renewing(spark, tmp_path):
    import time

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.lease_seconds = 0.8
    log.append(["0"])
    # keep writing for several lease lifetimes: the half-life renewals
    # must keep the lease continuously valid (a second opener always
    # sees an unexpired foreign... same-pid lock here, so instead pin
    # that the recorded expiry never falls behind the wall clock)
    for i in range(1, 7):
        time.sleep(0.3)
        log.append([str(i)])
        # read as the program does: a renewal on the Hadoop store
        # truncates the file before it writes, so a read can see it
        # empty for a moment (None), never a stale lease
        for _ in range(50):
            owner = log._read_lock_owner()
            if owner is not None:
                break
            time.sleep(0.01)
        assert owner is not None, "lock file unreadable for 0.5 s"
        assert owner["lease_expires_at"] > time.time()
    log.close()


def test_fenced_writer_raises_lock_lost_and_leaves_lock_alone(spark, tmp_path):
    """A takeover observed by the HEARTBEAT fences the writer before
    its next mutating call, and close() leaves the new owner's lock."""
    import time

    from proglog_spark.errors import WriterLockLostError

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.lease_seconds = 0.5
    log.append(["a"])
    # another process took the lock (e.g. a steal while this host was
    # paused); the half-life heartbeat must observe it within a beat
    _plant_lease_lock(path, host="new-owner-host", expires_in=3600.0)
    deadline = time.time() + 5.0
    while log._fenced_owner is None and time.time() < deadline:
        time.sleep(0.05)
    with pytest.raises(WriterLockLostError):
        log.append(["b"])
    # fenced: ownership dropped, and close() must NOT delete the new
    # owner's lock file
    log.close()
    owner = json.load(open(_lock_path(path)))
    assert owner["host"] == "new-owner-host"


def test_inline_fence_when_heartbeat_missed(spark, tmp_path):
    """The mutating-call entry check fences on its own when the
    heartbeat never got the chance (simulated process pause: heartbeat
    stopped, recorded lease forced past expiry, lock superseded)."""
    from proglog_spark.errors import WriterLockLostError

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.lease_seconds = 0.5
    log.append(["a"])
    log._stop_heartbeat()  # the "pause": no renewals from here on
    log._lease_deadline = 0.0
    _plant_lease_lock(path, host="new-owner-host", expires_in=3600.0)
    with pytest.raises(WriterLockLostError):
        log.append(["b"])
    log.close()
    assert json.load(open(_lock_path(path)))["host"] == "new-owner-host"


def test_heartbeat_keeps_idle_writer_alive_through_long_jobs(spark, tmp_path):
    """The lease must renew DURING long gaps between mutating calls
    (the long-Spark-job case): after several lease lifetimes of
    silence the on-disk lease is still unexpired and a contender is
    still refused."""
    import time

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    # 2 s lease (1 s heartbeat half-life): a 0.5 s lease flaked once
    # under external CPU throttling (a >0.25 s scheduler stall between
    # renewal and the on-disk read) — the property under test is
    # "renewal happens during idle gaps", not "renewal survives
    # sub-second starvation", so give the daemon a starvation-tolerant
    # margin while still sleeping > 3 lease lifetimes
    log.lease_seconds = 2.0
    log.append(["a"])
    time.sleep(7.0)  # > 3 lease lifetimes with no mutating calls
    owner = json.load(open(_lock_path(path)))
    assert owner["lease_expires_at"] > time.time()
    other = LogTable.open(spark, path)
    other._lock_token = "contender"  # distinct instance, same process:
    # force the foreign-owner view by faking another pid/host is not
    # possible in-process, so assert via the reclaim predicate instead:
    assert not LogTable._owner_lease_expired(owner)
    # and the original writer can still write (not fenced)
    assert log.append(["b"])[1] == 1
    log.close()


_CONTENTION_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from proglog_spark.errors import WriterLockHeldError, WriterLockLostError
from proglog_spark.log.table import LogTable

log_dir, counter_path, n_rounds = sys.argv[2], sys.argv[3], int(sys.argv[4])
t = LogTable(None, log_dir, 8, 0, 1 << 22)  # lock paths never touch spark
t.lease_seconds = 2.0
done = 0
while done < n_rounds:
    try:
        t._acquire_writer_lock()
    except (WriterLockHeldError, WriterLockLostError):
        time.sleep(0.002)
        continue
    try:
        # critical section: a lost-update here means two owners
        with open(counter_path) as fh:
            v = int(fh.read())
        time.sleep(0.003)
        with open(counter_path, "w") as fh:
            fh.write(str(v + 1))
        done += 1
    finally:
        t.close()
print(done)
"""


def test_multiprocess_contention_single_owner(tmp_path):
    """REAL cross-process mutual exclusion (not planted lock files):
    N processes fight over one log dir's writer lock and each performs
    an unprotected read-sleep-increment inside the critical section.
    Any window where two processes both believe they own the lock
    loses an update; the final counter must equal the exact total of
    completed acquisitions."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "contended")
    os.makedirs(log_dir)
    counter = str(tmp_path / "counter")
    with open(counter, "w") as fh:
        fh.write("0")
    n_procs, n_rounds = 4, 12
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CONTENTION_WORKER, repo, log_dir, counter, str(n_rounds)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(n_procs)
    ]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err[-2000:]
        assert out.strip() == str(n_rounds), (out, err[-500:])
    with open(counter) as fh:
        assert int(fh.read()) == n_procs * n_rounds
    # the last closer deleted the lock file
    assert not os.path.exists(_lock_path(log_dir))


# ------------------------------------------------------------------
# remote-store reclaim (no flock, no conditional PUT): the
# create-then-verify protocol of LogTable._reclaim_lock_remote, run
# through the Hadoop store
# ------------------------------------------------------------------


def _remote_handle(spark, path: str) -> LogTable:
    """A handle on the Hadoop store (create-exclusive and delete, no
    flock) with a short settle window."""
    with on_store("hadoop"):
        other = LogTable.open(spark, path)
    other.lease_seconds = 0.5
    return other


def test_remote_reclaim_succeeds_and_verifies_token(spark, tmp_path):
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.close()
    _plant_lease_lock(path, host="some-dead-remote-host", expires_in=-5.0)
    stale = json.load(open(_lock_path(path)))
    other = _remote_handle(spark, path)
    assert other._reclaim_lock_remote(stale) is True
    assert json.load(open(_lock_path(path)))["token"] == other._lock_token


def test_remote_reclaim_backs_off_when_clobbered(spark, tmp_path):
    """A competitor whose delayed delete+create lands inside our
    settle window must win cleanly: we back off at verify and leave
    the competitor's lock untouched (the two-live-writers interleave
    of bare delete-then-create)."""
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.close()
    _plant_lease_lock(path, host="some-dead-remote-host", expires_in=-5.0)
    stale = json.load(open(_lock_path(path)))
    other = _remote_handle(spark, path)
    competitor = {"pid": 1, "host": "other-host", "token": "competitor-token"}
    real_create = other._try_create_lock

    def clobbering_create():
        ok = real_create()
        # competitor's queued delete + create land before our verify
        with open(_lock_path(path), "w") as fh:
            json.dump(competitor, fh)
        return ok

    other._try_create_lock = clobbering_create  # type: ignore[method-assign]
    assert other._reclaim_lock_remote(stale) is False
    assert json.load(open(_lock_path(path))) == competitor  # left alone


def test_remote_reclaim_never_deletes_a_fresh_lock(spark, tmp_path):
    """If the content changed between diagnosis and reclaim, the
    stale-owner precondition fails BEFORE any delete."""
    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.close()
    _plant_lease_lock(path, host="some-dead-remote-host", expires_in=-5.0)
    stale = json.load(open(_lock_path(path)))
    fresh = {"pid": 1, "host": "other-host", "token": "fresh-token"}
    with open(_lock_path(path), "w") as fh:
        json.dump(fresh, fh)
    other = _remote_handle(spark, path)
    assert other._reclaim_lock_remote(stale) is False
    assert json.load(open(_lock_path(path))) == fresh


def test_local_release_race_is_not_reported_as_takeover(spark, tmp_path):
    """_verify_or_renew_lease after a concurrent close(): renewal
    fails with NO recorded fencing — that's a local release, and must
    not raise WriterLockLostError(owner={}) blaming a takeover by
    pid=None/host=None."""
    from proglog_spark.errors import ProglogError, WriterLockLostError

    path = str(tmp_path / "log")
    log = LogTable.create(spark, path, bucket_size=8)
    log.append(["a"])
    # the race: close() dropped ownership between the mutating call's
    # owned-check and its lease verification
    log._lock_owned = False
    log._lease_deadline = 0.0
    with pytest.raises(ProglogError) as ei:
        log._verify_or_renew_lease()
    assert not isinstance(ei.value, WriterLockLostError)
    assert "released" in str(ei.value)
    log._lock_owned = True  # restore for clean close
    log.close()
