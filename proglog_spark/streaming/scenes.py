"""Streaming perceptual scene segmentation — incremental change-point
detection over per-frame hashes.

A NEW state-machine kind next to the time-gap sessionizer: the cut
rule is CONTENT-dependent (Hamming distance between consecutive frame
dHashes), so the state must carry the previous frame's HASH across
micro-batches, not just a timestamp. The engine state is a per-clip
SCENE PIECE — a summary of a contiguous processed frame range:

    (k_lo, k_hi, first_lo/hi, last_lo/hi,
     n_frames, n_scenes, longest, head_run, tail_run)

Pieces form an (associative) merge algebra: joining two adjacent
ranges needs only the boundary hashes and the head/tail run lengths,
exactly the bookkeeping of a segmented tree-reduce — so the streaming
fold over micro-batches computes the SAME answer as the batch query
regardless of where the batch boundaries fall (property-tested), and
the identical algebra would drive a distributed batch tree-reduce at
scale.

Missing-frame policy (documented, loud-free): a gap in k between two
pieces means the engine never saw the bridging frames, so their runs
can NEVER merge — a gap is a cut boundary. On a complete stream (the
gate's case, and any at-least-once source after dedup) this coincides
with the batch semantics exactly.

State groups are hash BUCKETS of clips (same O(n_buckets)-invocations
recipe as streaming/sessions.py); emission is sealed by event-time
timeout once the watermark passes a clip's last frame time + gap (no
frame for `gap` of event time = clip complete).

Reference parity: extends the reference's ordered-consume motif
(ConsumeStream, O21) with content-defined segmentation — the
reference has no media surface at all (api/v1/log.proto:8 opaque
bytes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CUT_THRESHOLD = 12  # same rule as the batch queries' _SCENE_CTES

#: one piece per clip once folded; parallel arrays across the bucket
_STATE_SCHEMA = (
    "doc ARRAY<LONG>, k_lo ARRAY<LONG>, k_hi ARRAY<LONG>, "
    "f_lo ARRAY<LONG>, f_hi ARRAY<LONG>, "
    "l_lo ARRAY<LONG>, l_hi ARRAY<LONG>, "
    "n_frames ARRAY<LONG>, n_scenes ARRAY<LONG>, longest ARRAY<LONG>, "
    "head_run ARRAY<LONG>, tail_run ARRAY<LONG>, last_ts_us ARRAY<LONG>"
)

SCENE_SCHEMA = (
    "doc_id LONG, n_frames LONG, n_scenes LONG, longest_scene LONG"
)

# piece tuple layout (python side):
# (k_lo, k_hi, f_lo, f_hi, l_lo, l_hi, n_frames, n_scenes, longest,
#  head_run, tail_run)


def piece_from_frames(ks, los, his):
    """Fold one k-sorted contiguous run of frames into a scene piece.
    ``ks`` must be strictly increasing; non-contiguous input is split
    by the caller (a k-gap is a cut — see module docstring)."""
    n = len(ks)
    assert n > 0
    n_scenes = 1
    longest = 1
    run = 1
    for i in range(1, n):
        d = bin((los[i] ^ los[i - 1]) & 0xFFFFFFFF).count("1") + bin(
            (his[i] ^ his[i - 1]) & 0xFFFFFFFF
        ).count("1")
        if d >= CUT_THRESHOLD:
            n_scenes += 1
            run = 1
        else:
            run += 1
        if run > longest:
            longest = run
    # head_run: length of the first scene; recompute forward
    head = 1
    for i in range(1, n):
        d = bin((los[i] ^ los[i - 1]) & 0xFFFFFFFF).count("1") + bin(
            (his[i] ^ his[i - 1]) & 0xFFFFFFFF
        ).count("1")
        if d >= CUT_THRESHOLD:
            break
        head += 1
    return (
        int(ks[0]), int(ks[-1]), int(los[0]), int(his[0]),
        int(los[-1]), int(his[-1]), n, n_scenes, longest, head, run,
    )


def merge_pieces(a, b):
    """Merge two scene pieces with a.k range before b's. Adjacent
    ranges (a.k_hi + 1 == b.k_lo) bridge on the boundary hash
    distance; a k-gap is a cut by policy. Associative (the
    property test folds random splits both ways)."""
    (ak0, ak1, af_lo, af_hi, al_lo, al_hi, an, as_, alg, ah, at) = a
    (bk0, bk1, bf_lo, bf_hi, bl_lo, bl_hi, bn, bs, blg, bh, bt) = b
    assert ak1 < bk0, "pieces must be ordered and disjoint"
    adjacent = ak1 + 1 == bk0
    d = bin((al_lo ^ bf_lo) & 0xFFFFFFFF).count("1") + bin(
        (al_hi ^ bf_hi) & 0xFFFFFFFF
    ).count("1")
    bridge = adjacent and d < CUT_THRESHOLD
    n = an + bn
    if bridge:
        s = as_ + bs - 1
        joined = at + bh
        head = an + bh if as_ == 1 else ah
        tail = bn + at if bs == 1 else bt
        if as_ == 1 and bs == 1:
            head = tail = n
        longest = max(alg, blg, joined)
    else:
        s = as_ + bs
        head, tail = ah, bt
        longest = max(alg, blg)
    return (ak0, bk1, af_lo, af_hi, bl_lo, bl_hi, n, s, longest, head, tail)


def _popcount64(x):
    """Vectorized 64-bit population count (SWAR) — numpy < 2.0 has no
    ``bitwise_count``. Input any integer dtype; returns int64."""
    import numpy as np

    x = x.astype(np.uint64, copy=True)
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return ((x * h) >> np.uint64(56)).astype(np.int64)


def pieces_from_batch(doc, k, lo, hi):
    """Vectorized :func:`piece_from_frames` over a WHOLE (doc, k)-
    lexsorted micro-batch at once: returns ``(piece_docs, pieces)`` —
    one scene-piece tuple per contiguous (same-doc, consecutive-k)
    frame run, in batch order. Replaces the r10 per-frame Python loop
    that dominated ``allUpdatesTimeMs`` at fixture scale (~250k frames
    per micro-batch through an interpreted popcount); equivalence with
    the loop reference is pinned by
    tests/test_streaming_scenes.py::test_pieces_from_batch_matches_loop.
    """
    import numpy as np

    n = len(doc)
    if n == 0:
        return [], []
    doc = np.asarray(doc, dtype=np.int64)
    k = np.asarray(k, dtype=np.int64)
    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    mask32 = np.int64(0xFFFFFFFF)
    d = _popcount64(np.bitwise_xor(lo[1:], lo[:-1]) & mask32) + _popcount64(
        np.bitwise_xor(hi[1:], hi[:-1]) & mask32
    )
    # frame starts a new piece (doc change or k-gap) / a new scene
    newrun = np.concatenate(
        ([True], (doc[1:] != doc[:-1]) | (k[1:] != k[:-1] + 1))
    )
    cut = newrun | np.concatenate(([True], d >= CUT_THRESHOLD))
    run_starts = np.flatnonzero(newrun)
    run_ends = np.concatenate((run_starts[1:], [n]))
    scene_starts = np.flatnonzero(cut)
    scene_lens = np.diff(np.concatenate((scene_starts, [n])))
    piece_of_frame = np.cumsum(newrun) - 1
    piece_of_scene = piece_of_frame[scene_starts]
    n_pieces = len(run_starts)
    pid = np.arange(n_pieces)
    first_scene = np.searchsorted(piece_of_scene, pid, side="left")
    last_scene = np.searchsorted(piece_of_scene, pid, side="right") - 1
    n_scenes = last_scene - first_scene + 1
    longest = np.maximum.reduceat(scene_lens, first_scene)
    head = scene_lens[first_scene]
    tail = scene_lens[last_scene]
    nf = run_ends - run_starts
    e = run_ends - 1
    s = run_starts
    pieces = [
        (
            int(k[s[i]]), int(k[e[i]]), int(lo[s[i]]), int(hi[s[i]]),
            int(lo[e[i]]), int(hi[e[i]]), int(nf[i]), int(n_scenes[i]),
            int(longest[i]), int(head[i]), int(tail[i]),
        )
        for i in range(n_pieces)
    ]
    return doc[s].tolist(), pieces


def _coalesce(pieces: list[tuple]) -> list[tuple]:
    """Sort a clip's pieces by k range and merge the ADJACENT ones.
    Non-adjacent pieces stay separate: a missing middle fragment may
    still arrive in a later micro-batch (the file source delivers a
    clip's frames across triggers in arbitrary k-subsets), and merging
    across the gap early would bake in a cut a late fragment could
    bridge. True range overlap means duplicate frames — a source
    contract violation, failed loudly."""
    pieces = sorted(pieces)
    out = [pieces[0]]
    for p in pieces[1:]:
        if p[0] <= out[-1][1]:
            raise ValueError(
                f"overlapping frame ranges {out[-1][:2]} / {p[:2]} — "
                "duplicate frames in the stream"
            )
        if out[-1][1] + 1 == p[0]:
            out[-1] = merge_pieces(out[-1], p)
        else:
            out.append(p)
    return out


def _seal(pieces: list[tuple]) -> tuple:
    """Final fold once the watermark proves no more frames can
    arrive: remaining k-gaps are genuine (unseen content = a cut,
    the documented policy), so non-adjacent pieces now merge too."""
    acc = pieces[0]
    for p in pieces[1:]:
        acc = merge_pieces(acc, p)
    return acc


def _segment_step(key, pdf_iter, state: GroupState, gap_us: int):
    """One state transition for one BUCKET of clips. State holds a
    LIST of pieces per clip (frames arrive across micro-batches in
    arbitrary k-subsets — the source's file/partition layout owes no
    ordering), coalesced when adjacent, folded only at seal."""
    wm_ms = state.getCurrentWatermarkMs()
    per_doc: dict[int, list[tuple]] = {}
    doc_ts: dict[int, int] = {}
    if state.exists:
        cols = state.get
        for i in range(len(cols[0])):
            doc = int(cols[0][i])
            per_doc.setdefault(doc, []).append(
                tuple(int(c[i]) for c in cols[1:12])
            )
            doc_ts[doc] = max(doc_ts.get(doc, 0), int(cols[12][i]))

    if not state.hasTimedOut:
        frames = list(pdf_iter)
        if frames:
            import numpy as np

            pdf = pd.concat(frames, ignore_index=True)
            doc = pdf["doc_id"].to_numpy(dtype=np.int64)
            k = pdf["k"].to_numpy(dtype=np.int64)
            order = np.lexsort((k, doc))
            doc, k = doc[order], k[order]
            lo = pdf["simhash_lo"].to_numpy(dtype=np.int64)[order]
            hi = pdf["simhash_hi"].to_numpy(dtype=np.int64)[order]
            ts = pdf["ts_us"].to_numpy(dtype=np.int64)[order]
            # per-doc max event time (docs are contiguous after the sort)
            doc_starts = np.concatenate(
                ([0], np.flatnonzero(doc[1:] != doc[:-1]) + 1)
            )
            ts_max = np.maximum.reduceat(ts, doc_starts)
            for d_, t_ in zip(doc[doc_starts].tolist(), ts_max.tolist()):
                doc_ts[d_] = max(doc_ts.get(d_, 0), int(t_))
            # one vectorized pass extracts every contiguous run's piece
            # (was: a per-frame Python loop — the allUpdatesTimeMs wall)
            piece_docs, pieces = pieces_from_batch(doc, k, lo, hi)
            for d_, p_ in zip(piece_docs, pieces):
                per_doc.setdefault(int(d_), []).append(p_)

    for doc in per_doc:
        per_doc[doc] = _coalesce(per_doc[doc])

    # seal every clip whose last frame time + gap is past the watermark
    done, live = [], {}
    for doc, pieces in per_doc.items():
        if (doc_ts[doc] + gap_us) // 1000 + 1 <= wm_ms:
            p = _seal(pieces)
            done.append((doc, p[6], p[7], p[8]))
        else:
            live[doc] = pieces
    if live:
        rows = [
            (doc, piece) for doc in sorted(live) for piece in live[doc]
        ]
        state.update(
            tuple(
                [[r[0] for r in rows]]
                + [[r[1][j] for r in rows] for j in range(11)]
                + [[doc_ts[r[0]] for r in rows]]
            )
        )
        state.setTimeoutTimestamp(
            min((doc_ts[d] + gap_us) // 1000 + 1 for d in live)
        )
    else:
        state.remove()
    if done:
        done.sort()
        yield pd.DataFrame(
            {
                "doc_id": [d[0] for d in done],
                "n_frames": [d[1] for d in done],
                "n_scenes": [d[2] for d in done],
                "longest_scene": [d[3] for d in done],
            }
        )


def streaming_scene_segments(
    stream: DataFrame,
    doc_col: str = "doc_id",
    k_col: str = "k",
    ts_col: str = "ts",
    gap_seconds: int = 3600,
    watermark: str = "1 minute",
    n_buckets: int = 64,
) -> DataFrame:
    """Streaming scene segmentation: input rows (doc, frame index k,
    frame hash words, event time), output one sealed row per clip
    (doc_id, n_frames, n_scenes, longest_scene) once the watermark
    passes its last frame time + gap. Input must carry simhash_lo /
    simhash_hi columns (dhash64's output shape)."""
    gap_us = gap_seconds * 1_000_000
    frames = (
        stream.select(
            F.col(doc_col).cast("long").alias("doc_id"),
            F.col(k_col).cast("long").alias("k"),
            F.col("simhash_lo").cast("long"),
            F.col("simhash_hi").cast("long"),
            F.col(ts_col).alias("ts"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        )
        .withColumn("bkt", F.pmod(F.col("doc_id"), F.lit(n_buckets)))
        .withWatermark("ts", watermark)
    )

    def segment_fn(key, pdf_iter, state: GroupState):
        yield from _segment_step(key, pdf_iter, state, gap_us)

    return frames.groupBy("bkt").applyInPandasWithState(
        segment_fn,
        outputStructType=SCENE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
