"""Correctness checks for the log service workload.

``LogChecker`` collects what the clients saw and counts wrong
outputs: a slow answer is not a wrong one, so latency never enters
here. The checks are the log's contract as a client sees it:

- acknowledged offsets are unique and dense across all producers;
- every Consume and tail read returns exactly the bytes produced at
  that offset;
- the tail follower sees strictly consecutive offsets;
- the final ``GET /bounds`` count equals preload plus produced.
"""

from __future__ import annotations


class LogChecker:
    def __init__(self) -> None:
        self.expected: dict[int, str] = {}  # offset -> value
        self.errors: list[str] = []
        self._first_produced: int | None = None
        self._produced: list[int] = []

    def preloaded(self, first: int, values: list[str]) -> None:
        for i, v in enumerate(values):
            self.expected[first + i] = v

    def acked(self, offset: int, value: str) -> None:
        """A producer's single-record POST was acknowledged."""
        self._produced.append(offset)
        if offset in self.expected:
            self.errors.append(f"offset {offset} acknowledged twice")
            return
        self.expected[offset] = value

    def read(self, offset: int, got_offset: int, value: str) -> bool:
        """A Consume or tail read of ``offset`` answered ``got_offset``
        and ``value``; returns whether the answer is right. Reads are
        checked after the run, when every acknowledged offset is
        known, so a read that races its own acknowledgement is fine."""
        want = self.expected.get(offset)
        if got_offset != offset or want != value:
            self.errors.append(f"read {offset}: got offset {got_offset}, value mismatch={want != value}")
            return False
        return True

    def tail_order(self, offsets: list[int], start: int) -> int:
        """Count tail deliveries that do not follow their predecessor."""
        bad = 0
        for i, off in enumerate(offsets):
            if off != start + i:
                bad += 1
                self.errors.append(f"tail delivery {i}: offset {off}, want {start + i}")
        return bad

    def density(self, start: int) -> int:
        """Count missing or duplicated produced offsets; the produced
        range must be exactly ``start .. start+n-1``."""
        n = len(self._produced)
        have = set(self._produced)
        bad = (n - len(have)) + len(set(range(start, start + n)) - have)
        if bad:
            self.errors.append(f"{bad} produced offsets are duplicated or missing")
        return bad

    def bounds(self, count: int) -> int:
        want = len(self.expected)
        if count != want:
            self.errors.append(f"bounds count {count}, want {want}")
            return 1
        return 0
