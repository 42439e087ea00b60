"""Property-based tests (hypothesis) — randomized invariants the
scenario tests can't sweep.

Mirrors the reference's load-bearing invariants: offset density under
arbitrary append batches (internal/log/segment_test.go:28-32) and
round-trip fidelity (log_test.go:36-45), plus exactness of the
near-dup operators against pure-Python references on random corpora.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proglog_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=8,
)


def py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.split(" ")
        return {"_".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10**7), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=10**6),
)
def test_sessionize_merge_is_split_invariant(batches, gap_us):
    """The streaming sessionizer's state algebra: folding ANY
    partition of events into micro-batches (any order, any grouping,
    duplicates allowed) through batch_sessions + merge_session_pieces
    must equal one-shot sessionization of the full multiset — the
    invariant that makes out-of-order and late arrivals exact. Pure
    functions, no engine needed (the engine-level twin is
    test_streaming_sessionize_matches_batch)."""
    import numpy as np

    from proglog_spark.streaming.sessions import batch_sessions, merge_session_pieces

    state: list[list[int]] = []
    for batch in batches:
        pieces = batch_sessions(np.sort(np.array(batch, dtype=np.int64)), gap_us)
        state = merge_session_pieces(state + pieces, gap_us)

    all_ts = np.sort(np.concatenate([np.array(b, dtype=np.int64) for b in batches]))
    want = batch_sessions(all_ts, gap_us)
    assert state == want


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),          # user
                st.integers(min_value=0, max_value=10**7),      # ts
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=10**6),
)
def test_keyed_sessionize_merge_is_split_invariant(batches, gap_us):
    """The BUCKETED sessionizer's state algebra (multi-user state
    groups): folding any batch split of interleaved users through
    batch_keyed_sessions + merge_keyed_pieces must equal per-user
    one-shot sessionization of the full multiset, for every user at
    once."""
    import numpy as np

    from proglog_spark.streaming.sessions import (
        batch_keyed_sessions,
        batch_sessions,
        merge_keyed_pieces,
    )

    state: list[list[int]] = []
    for batch in batches:
        users = [u for u, _ in batch]
        ts = [t for _, t in batch]
        state = merge_keyed_pieces(
            state + batch_keyed_sessions(users, ts, gap_us), gap_us
        )

    want: list[list[int]] = []
    all_rows = [r for b in batches for r in b]
    for u in sorted({u for u, _ in all_rows}):
        ts = np.sort(np.array([t for uu, t in all_rows if uu == u], dtype=np.int64))
        want += [[u, s, e, n] for s, e, n in batch_sessions(ts, gap_us)]
    assert sorted(state) == sorted(want)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_jaccard_pairs_exact_vs_python(spark, texts):
    """jaccard_pairs with no threshold must equal the all-pairs
    pure-Python computation (complete inverted-index blocking)."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard_micro
        for r in jaccard_pairs(df, threshold_micro=1).collect()
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            jac = py_jaccard(texts[i], texts[j])
            if jac > 0:
                want[(i, j)] = math.floor(jac * 1_000_000)
    assert got == want


def py_capped_shingle_sets(texts: list[str], cap: int, n: int = 3) -> list[set[str]]:
    """Shingle sets with every shingle held by more than ``cap``
    documents removed (the hub cap's model)."""
    sets = []
    for t in texts:
        toks = t.split(" ")
        sets.append({"_".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)})
    doc_freq: dict[str, int] = {}
    for s in sets:
        for g in s:
            doc_freq[g] = doc_freq.get(g, 0) + 1
    return [{g for g in s if doc_freq[g] <= cap} for s in sets]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    # four words: shingles recur across docs, so some go hot at every cap
    st.lists(
        st.lists(st.sampled_from(WORDS[:4]), min_size=3, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@example(
    ["alpha beta gamma delta eps"] * 2 + ["alpha beta gamma zeta", "alpha beta gamma eta"], 2
)
def test_capped_shingle_pairs_match_python_model(spark, texts, cap):
    """With ``max_shingle_df`` set, jaccard_pairs and containment_pairs
    must equal the all-pairs Python model on the CAPPED sets: a hot
    shingle (in more than ``cap`` docs) leaves both the shared count
    and both set sizes."""
    from proglog_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sets = py_capped_shingle_sets(texts, cap)
    want_j, want_c = {}, {}
    for i, sa in enumerate(sets):
        for j, sb in enumerate(sets):
            common = len(sa & sb)
            if i == j or common == 0:
                continue
            sizes = (common, len(sa), len(sb))
            if i < j:
                union = len(sa) + len(sb) - common
                want_j[(i, j)] = (*sizes, math.floor(1_000_000.0 * common / union))
            want_c[(i, j)] = (*sizes, math.floor(1_000_000.0 * common / len(sa)))
    got_j = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.jaccard_micro)
        for r in jaccard_pairs(df, threshold_micro=1, max_shingle_df=cap).collect()
    }
    got_c = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.containment_micro)
        for r in containment_pairs(df, threshold_micro=1, max_shingle_df=cap).collect()
    }
    assert got_j == want_j
    assert got_c == want_c


_sketch_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),          # id (overlap allowed)
        st.booleans(),                                  # which base sketch
        st.lists(                                       # bits to flip (0..63)
            st.integers(min_value=0, max_value=63), max_size=5
        ),
    ),
    min_size=1,
    max_size=7,
)


def _sketch_rows(spec):
    """Materialize a sketch spec into unique-id (id, lo, hi) rows:
    perturbations of two fixed base words, so sub-radius pairs are
    common instead of astronomically rare."""
    bases = (0x5A5A_3C3C_0F0F_AAAA, 0x5A5A_3C3C_0F0F_AAAC)  # 2 bits apart
    rows = {}
    for doc_id, which, flips in spec:
        word = bases[which]
        for b in flips:
            word ^= 1 << b
        rows[doc_id] = (doc_id, word & 0xFFFF_FFFF, word >> 32)
    return list(rows.values())


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_sketch_strategy, right=_sketch_strategy)
def test_hamming_pairs_two_sided_matches_all_pairs_model(spark, left, right):
    """VERDICT-r8 #6: TWO-SIDED hamming_pairs (the incremental-dedup
    shape — a drop blocking against a persisted index that never
    self-joins) must equal the pure-Python all-pairs scan exactly:
    every cross pair with id_a != id_b and popcount distance <=
    max_hamming, and nothing else (pigeonhole blocking is COMPLETE at
    blocks >= d+1, so the model is equality, not containment).
    Overlapping ids between the sides pin the (x, x) self-pair
    exclusion; sketches are perturbations of two base words so
    sub-radius pairs actually occur."""
    from proglog_spark.operators.dedup import hamming_pairs

    lrows, rrows = _sketch_rows(left), _sketch_rows(right)
    schema = "id LONG, simhash_lo LONG, simhash_hi LONG"
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(
            spark.createDataFrame(lrows, schema),
            max_hamming=3,
            other=spark.createDataFrame(rrows, schema),
        ).collect()
    }
    want = {}
    for ia, lo_a, hi_a in lrows:
        for ib, lo_b, hi_b in rrows:
            if ia == ib:
                continue
            d = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
            if d <= 3:
                want[(ia, ib)] = d
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    clips=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**64 - 1),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_scene_sweep_and_ids_agree_with_model(spark, clips):
    """Four-way pin over RANDOM per-clip hash sequences: for each
    threshold, scene_count_sweep's corpus n_scenes must equal the
    distinct (clip, scene_id) count of scene_ids_from_hashes at that
    cut_bits AND the pure-Python cut count — so the one-pass sweep,
    the running-sum segmentation, and the spec can never drift apart.
    VERDICT-r9 #5 extends the pin to the sweep's OTHER outputs, which
    previously had only the driver gate: mean_scene_len_micro must
    equal the pure-Python floor-fixed-point floor(1e6 * n_frames /
    n_scenes) — exercising the NULL-first-frame arm (a clip's first
    frame has no LAG distance yet always opens a scene, so n_scenes
    >= n_clips and the division is never by zero). Thresholds
    straddle the spectrum (1 cuts almost everywhere, 65 is
    unreachable for 64-bit hashes so only first frames open scenes)."""
    from proglog_spark.multimodal.frameindex import (
        scene_count_sweep,
        scene_ids_from_hashes,
    )

    rows = [
        (ci, k, h & 0xFFFF_FFFF, h >> 32)
        for ci, hs in enumerate(clips)
        for k, h in enumerate(hs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, k LONG, simhash_lo LONG, simhash_hi LONG"
    )
    thresholds = [1, 12, 65]
    swept = {
        r.threshold: (r.n_scenes, r.n_frames, r.mean_scene_len_micro)
        for r in scene_count_sweep(df, thresholds).collect()
    }
    n_frames = sum(len(hs) for hs in clips)
    for t in thresholds:
        model = sum(
            1
            for hs in clips
            for i in range(len(hs))
            if i == 0 or bin(hs[i] ^ hs[i - 1]).count("1") >= t
        )
        ids = (
            scene_ids_from_hashes(df, cut_bits=t)
            .select("doc_id", "scene_id")
            .distinct()
            .count()
        )
        mean_micro = 1_000_000 * n_frames // model
        assert swept[t] == (model, n_frames, mean_micro)
        assert ids == model
    assert swept[65][0] == len(clips)  # only first frames open scenes
    # at the unreachable threshold every clip is ONE scene, so the
    # fixed-point mean is exactly the corpus mean clip length
    assert swept[65][2] == 1_000_000 * n_frames // len(clips)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_minhash_estimates_bounded(spark, texts):
    """MinHash band candidates: estimated jaccard is in [0, 1e6] and
    identical docs always estimate 1e6 (every band collides)."""
    texts = list(texts) + [texts[0]]  # guarantee one identical pair
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = minhash_lsh_pairs(df, threshold_micro=1).collect()
    assert all(0 <= r.est_jaccard_micro <= 1_000_000 for r in rows)
    dup_pair = (0, len(texts) - 1)
    est = {(r.id_a, r.id_b): r.est_jaccard_micro for r in rows}
    assert est.get(dup_pair) == 1_000_000


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=1, max_value=5), min_size=1, max_size=4))
def test_log_offsets_dense_under_random_batches(spark, tmp_path_factory, batch_sizes):
    """Offsets stay dense from initial_offset across arbitrary append
    batch sizes (the reference's core invariant, segment_test.go:28-32),
    and every record round-trips."""
    from proglog_spark import LogTable

    path = str(tmp_path_factory.mktemp("prop_log"))
    log = LogTable.create(spark, path, bucket_size=4, initial_offset=16)
    expect = []
    nxt = 16
    for bi, size in enumerate(batch_sizes):
        vals = [f"b{bi}-{k}" for k in range(size)]
        first, last = log.append(vals)
        assert (first, last) == (nxt, nxt + size - 1)
        expect += list(zip(range(first, last + 1), vals))
        nxt = last + 1
    got = [(r.offset, r.value) for r in log.reader().collect()]
    assert sorted(got) == sorted(expect)
    assert log.count() == sum(batch_sizes)


@pytest.fixture(scope="module")
def tmp_path_factory(tmp_path_factory):
    return tmp_path_factory


# ------------------------------------------------------------ joins ----

asof_strategy = st.tuples(
    # left rows: (key, t)
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=1, max_size=12
    ),
    # right rows: (key, t) — tie id assigned by enumeration
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=0, max_size=12
    ),
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(asof_strategy)
def test_asof_join_matches_python_reference(spark, data):
    """asof_join == 'max (t, tie) among right rows with same key and
    rt <= t' computed by brute force, including duplicate timestamps
    on both sides."""
    from proglog_spark.operators.joins import asof_join

    lrows, rrows = data
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)], "lid long, k long, t long"
    ).select("lid", "k", F.timestamp_seconds("t").alias("t"))
    right_py = [(j, k, t) for j, (k, t) in enumerate(rrows)]
    if right_py:
        right = spark.createDataFrame(
            right_py, "rid long, k long, rt long"
        ).select("rid", "k", F.timestamp_seconds("rt").alias("rt"))
    else:
        right = spark.createDataFrame([], "rid long, k long, rt timestamp")

    got = {
        r.lid: r.rid
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="rt", tie_break="rid"
        ).collect()
    }
    want = {}
    for i, (k, t) in enumerate(lrows):
        cands = [(rt, j) for j, rk, rt in right_py if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=1, max_size=12),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(0, 25)),
        min_size=0,
        max_size=8,
    ),
    st.sampled_from([1, 7, 16]),
)
def test_range_join_matches_brute_force(spark, pts, ivs, bucket):
    """Bucketized range join == brute-force containment filter for
    arbitrary intervals (including empty and multi-bucket spans) at
    several bucket widths."""
    from proglog_spark.operators.joins import range_join

    p = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(pts)], "pid long, pk long, pt long"
    ).select("pid", "pk", F.timestamp_seconds("pt").alias("pt"))
    iv_py = [(100 + j, k, s, s + dur) for j, (k, s, dur) in enumerate(ivs)]
    if iv_py:
        iv = spark.createDataFrame(
            iv_py, "iid long, ik long, s long, e long"
        ).select(
            "iid", "ik",
            F.timestamp_seconds("s").alias("s"), F.timestamp_seconds("e").alias("e"),
        )
    else:
        iv = spark.createDataFrame([], "iid long, ik long, s timestamp, e timestamp")

    got = {
        (r.pid, r.iid)
        for r in range_join(p, iv, "pk", "ik", "pt", "s", "e", bucket).collect()
    }
    want = {
        (i, iid)
        for i, (pk, pt) in enumerate(pts)
        for iid, ik, s, e in iv_py
        if pk == ik and s <= pt < e
    }
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_star_path_matches_union_find(spark, edges):
    """The distributed large/small-star path must produce exactly the
    union-find clustering on arbitrary small graphs (cycles, stars,
    chains, multi-edges in both orientations)."""
    from proglog_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = {(r.id, r.rep) for r in connected_components(pairs).collect()}
    dist = {
        (r.id, r.rep)
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert dist == drv


def test_connected_components_long_chain_converges_fast(spark):
    """A 120-diameter pair-chain must resolve within 10 star rounds
    (naive min-label propagation would need 120)."""
    from proglog_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    out = connected_components(pairs, driver_threshold=0, max_iterations=10)
    assert {(r.id, r.rep) for r in out.collect()} == {(i, 0) for i in range(121)}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=64),
)
def test_packing_conserves_totals_and_orders_bins(spark, sizes, capacity):
    """pack_sequences: per-bin totals sum to the corpus total, bins are
    dense from 0, and bin assignment is monotone in the order key."""
    from proglog_spark.operators.packing import pack_sequences

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "k LONG, sz LONG")
    out = sorted(
        ((r.k, r.bin_id) for r in pack_sequences(df, ["k"], "sz", capacity, num_partitions=3).collect())
    )
    # exact reference: bin = tokens-before-this-doc div capacity (a
    # doc larger than capacity spans bins, so START bins may skip —
    # that is correct contiguous-fill semantics, not a gap bug)
    before = 0
    want = []
    for s in sizes:
        want.append(before // capacity)
        before += s
    assert [b for _, b in out] == want
    # conservation: per-bin totals sum to the corpus total
    agg = (
        pack_sequences(df, ["k"], "sz", capacity, num_partitions=3)
        .groupBy("bin_id").agg(F.sum("sz").alias("t")).collect()
    )
    assert sum(r.t for r in agg) == sum(sizes)


# ---------------------------------------------------------------------------
# stateful model test: random op interleavings vs an in-memory model
# ---------------------------------------------------------------------------

_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=6),
                     min_size=1, max_size=7),
        ),
        st.tuples(st.just("truncate"), st.floats(min_value=0.0, max_value=1.0)),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("reopen"), st.none()),
    ),
    min_size=2,
    max_size=8,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_ops)
def test_log_table_model_random_interleavings(spark, tmp_path_factory, ops):
    """The reference pins each log behavior with a hand-written
    scenario table (log_test.go:13-34); this is the generated
    counterpart: random interleavings of append / exact-truncate /
    compact / reopen must keep the LogTable indistinguishable from a
    plain in-memory list with dense offsets — bounds, count, full
    ordered scan, and point reads all agree at every step."""
    import tempfile

    from proglog_spark import LogTable

    path = tempfile.mkdtemp(dir=str(tmp_path_factory.mktemp("model"))) + "/log"
    log = LogTable.create(spark, path, bucket_size=4)  # tiny -> many buckets
    model: list[tuple[int, str]] = []
    next_off = 0

    for op, arg in ops:
        if op == "append":
            log.append(arg)
            model.extend((next_off + i, v) for i, v in enumerate(arg))
            next_off += len(arg)
        elif op == "truncate":
            if not model:
                continue
            lo, hi = model[0][0], model[-1][0]
            lowest = lo + int((hi - lo) * arg)
            log.truncate(lowest)
            model = [r for r in model if r[0] > lowest]
        elif op == "compact":
            log.compact()
        else:
            log = LogTable.open(spark, path)

        assert log.count() == len(model)
        assert log.lowest_offset() == (model[0][0] if model else None)
        assert log.highest_offset() == (model[-1][0] if model else None)

    got = [(r.offset, r.value) for r in log.reader().orderBy("offset").collect()]
    assert got == model
    if model:
        mid = model[len(model) // 2]
        r = log.read(mid[0])
        assert (r.offset, r.value) == mid


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=900
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_spans_tile_documents(spark, texts):
    """Chunking invariants on random texts: chunks start at stride
    multiples from 0, every chunk digest matches the python substring,
    spans cover the full text (union of [start, start+len) == [0, n)),
    and empty docs still yield exactly one empty chunk."""
    import hashlib

    from proglog_spark.queries import _CHUNK_SIZE, _CHUNK_STRIDE

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    # the chunker logic applied to this frame (same expressions as
    # docs_chunk_spans, which is bound to the fixture loader)
    from pyspark.sql import functions as F2

    n = F2.length("text")
    ch = df.select(
        "doc_id",
        "text",
        n.alias("n"),
        F2.explode(
            F2.sequence(
                F2.lit(0), F2.greatest(n - 1, F2.lit(0)), F2.lit(_CHUNK_STRIDE)
            )
        ).alias("start"),
    ).select(
        "doc_id",
        "start",
        (F2.least(F2.col("start") + _CHUNK_SIZE, F2.col("n")) - F2.col("start"))
        .alias("chunk_len"),
        F2.md5(F2.expr(f"substring(text, start + 1, {_CHUNK_SIZE})")).alias(
            "chunk_md5"
        ),
    )
    rows = ch.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r.start)
        assert [c.start for c in chunks] == list(
            range(0, max(len(t), 1), _CHUNK_STRIDE)
        )
        covered = 0
        for c in chunks:
            want = t[c.start : c.start + _CHUNK_SIZE]
            assert c.chunk_md5 == hashlib.md5(want.encode()).hexdigest()
            assert c.chunk_len == len(want)
            covered = max(covered, c.start + c.chunk_len)
        assert covered == len(t)


# ---------------------------------------------------------------------------
# streaming as-of join: state-machine model test. Drives _asof_step
# directly (fake GroupState, no engine) through arbitrary row
# sequences, arbitrary batch splits, and the Spark watermark schedule
# (wm = max event time seen - delay, updated between batches; rows
# older than the wm at arrival are dropped; timers fire for dataless
# BUCKETS whose timeout passed). State groups are hash buckets of
# keys (key % 2 here, so one bucket carries TWO interleaved keys —
# the multi-key vectorized path is what's under test). Emitted
# matches must equal a pure merge_asof over the ADMITTED rows —
# every admitted anchor exactly once, matched to its max-(ts, tie)
# admitted candidate at-or-before WITH THE SAME KEY.
# ---------------------------------------------------------------------------


class _FakeGroupState:
    def __init__(self, wm_ms: int, timed_out: bool, value):
        self._v = value
        self._wm = wm_ms
        self.hasTimedOut = timed_out
        self.timeout_ms: int | None = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # key
        st.sampled_from(("a", "c")),                # side
        st.integers(min_value=0, max_value=20),     # ts (seconds)
        st.integers(min_value=0, max_value=5),      # tie / anchor id salt
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=150, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=_asof_rows,
    splits=st.lists(st.integers(min_value=1, max_value=6), min_size=1, max_size=6),
    delay_s=st.integers(min_value=0, max_value=8),
)
def test_streaming_asof_state_machine_matches_merge_asof(rows, splits, delay_s):
    import pandas as pd

    from proglog_spark.streaming.asof import _asof_step

    VALS = ["val"]
    US = 1_000_000

    # assign unique anchor ids; candidate value derived from tie
    seq = []
    for i, (k, side, ts, tie) in enumerate(rows):
        seq.append((k, side, ts * US, tie, i))

    # split into batches
    batches, i = [], 0
    for sz in splits:
        if i >= len(seq):
            break
        batches.append(seq[i : i + sz])
        i += sz
    if i < len(seq):
        batches.append(seq[i:])
    batches.append([])  # final flush batches under an advanced wm
    batches.append([])

    states: dict[int, _FakeGroupState] = {}
    stored: dict[int, tuple] = {}
    wm_ms = 0
    max_seen_ms = 0
    admitted_a, admitted_c = [], []
    emitted = []

    for bi, batch in enumerate(batches):
        if bi == len(batches) - 2:
            # the sentinel analog: push the watermark past everything
            max_seen_ms = max(max_seen_ms, 100 * US // 1000 + delay_s * 1000 + 1000)
            wm_ms = max_seen_ms - delay_s * 1000
        # admission filter: rows older than the current wm are dropped
        live_rows = [r for r in batch if r[2] >= wm_ms * 1000]
        by_bkt: dict[int, list] = {}
        for r in live_rows:
            by_bkt.setdefault(r[0] % 2, []).append(r)
            if r[1] == "a":
                admitted_a.append(r)
            else:
                admitted_c.append(r)
        # buckets with data: normal invocation; buckets without data
        # whose timer passed: timed-out invocation
        invoke = set(by_bkt)
        for b, stv in stored.items():
            t = states[b].timeout_ms if b in states else None
            if b not in invoke and stv is not None and t is not None and t < wm_ms:
                invoke.add(b)
        for b in sorted(invoke):
            brows = by_bkt.get(b, [])
            pdf = pd.DataFrame(
                {
                    "key": [r[0] for r in brows],
                    "side": [0 if r[1] == "a" else 1 for r in brows],
                    "ts_us": [r[2] for r in brows],
                    "tie": [r[3] if r[1] == "c" else None for r in brows],
                    "lid": [r[4] if r[1] == "a" else None for r in brows],
                    "v0": [float(r[3]) if r[1] == "c" else None for r in brows],
                }
            )
            st_obj = _FakeGroupState(wm_ms, not brows, stored.get(b))
            for out in _asof_step((b,), [pdf] if brows else [], st_obj, VALS):
                emitted.extend(out.to_dict("records"))
            stored[b] = st_obj._v
            states[b] = st_obj
        # Spark updates the watermark BETWEEN batches from the max
        # event time seen so far
        if live_rows:
            max_seen_ms = max(max_seen_ms, max(r[2] for r in live_rows) // 1000)
        wm_ms = max(wm_ms, max_seen_ms - delay_s * 1000)

    # pure-python merge_asof oracle over the admitted rows
    want = {}
    for k, _s, ats, _tie, lid in admitted_a:
        best = None
        for ck, _cs, cts, ctie, _i in admitted_c:
            if ck == k and cts <= ats:
                cand = (cts, ctie)
                if best is None or cand > best:
                    best = cand
        want[lid] = best

    got = {}
    for r in emitted:
        assert r["left_id"] not in got, "anchor emitted twice"
        got[r["left_id"]] = (
            None if r["right_tie"] is None or pd.isna(r["right_tie"])
            else (int(r["right_ts_us"]), int(r["right_tie"]))
        )
    assert got == want


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=30
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_oracle_replays_driver_loop(spark, words):
    """The SQL training oracle must reproduce train_bpe_driver's merge
    SEQUENCE on arbitrary corpora — the two-letter alphabet forces
    a==b merge pairs (runs of identical symbols), the greedy-pass case
    the run-parity SQL handles; ties and early stops land constantly
    at this size."""
    import duckdb

    from proglog_spark import queries as q
    from proglog_spark.operators.bpe import train_bpe_driver

    df = spark.createDataFrame([(" ".join(words),)], "text STRING")
    want = [
        (i + 1, a, b)
        for i, (a, b) in enumerate(train_bpe_driver(df, num_merges=6))
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT ? AS text", [" ".join(words)])
    got = con.sql(q._bpe_train_oracle(num_merges=6)).fetchall()
    assert got == want


@given(st.integers(min_value=0, max_value=10**12))
@settings(max_examples=200, deadline=None)
def test_adaptive_block_params_ladder_invariants(n):
    """Fuzzy-blocking ladder: width never increases and prefix length
    never decreases with corpus size, widths stay in the declared set,
    and inside the width regime the occupancy budget n·width ≤ 550k
    holds (the bound that keeps per-block pairs constant)."""
    from proglog_spark.operators.text import (
        _BLOCK_PREFIX_LADDER,
        _BLOCK_WIDTH_LADDER,
        adaptive_block_params,
    )

    w, p = adaptive_block_params(n)
    w2, p2 = adaptive_block_params(n + 1 + n // 10)
    assert w2 <= w and p2 >= p
    assert w in {x for _, x in _BLOCK_WIDTH_LADDER} | {1}
    assert 0 <= p <= len(_BLOCK_PREFIX_LADDER)
    if w > 1:
        assert n * w <= 550_000
    if p == 0:
        assert n <= _BLOCK_PREFIX_LADDER[0]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=0,
            max_size=230,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_audio_ahash64_matches_python_reference(spark, clips):
    """The audio fingerprint on ARBITRARY sample arrays (any length,
    full 16-bit range, empties included) equals the pure-Python model
    of the documented rule — 65 frames of 3, zero-padded past the
    clip end, bit k iff energy[k+1] > energy[k]. Randomization sweeps
    the frame-boundary and padding edges the scenario tests pin only
    pointwise."""

    def model(samples):
        e = [
            sum(x * x for x in samples[k * 3 : k * 3 + 3]) for k in range(65)
        ]
        lo = hi = 0
        for k in range(64):
            bit = int(e[k + 1] > e[k])
            if k < 32:
                lo |= bit << k
            else:
                hi |= bit << (k - 32)
        return lo, hi

    from proglog_spark.multimodal import audio_ahash64

    df = spark.createDataFrame(
        list(enumerate(clips)), "doc_id LONG, sample_prefix ARRAY<INT>"
    )
    got = {
        r.id: (r.simhash_lo, r.simhash_hi) for r in audio_ahash64(df).collect()
    }
    assert got == {i: model(c) for i, c in enumerate(clips)}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-8.0, max_value=8.0, allow_nan=False, width=64
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=6,
    )
)
def test_sq8_encode_matches_python_reference(spark, vecs):
    """SQ8 training + encoding on ARBITRARY float vectors equals the
    pure-Python model — per-dim min/max on the floor(x*1000) grid,
    clamp+floor-division codes, exact integer dequantization.
    Randomization sweeps the grid edges (components AT the per-dim
    min/max, constant dims, negative ranges) that decide the clamp
    and the mx==mn branch."""
    import math

    from proglog_spark.operators import similarity

    grid = [[math.floor(x * 1000) for x in v] for v in vecs]
    mn = [min(col) for col in zip(*grid)]
    mx = [max(col) for col in zip(*grid)]

    def model(q):
        code = [
            0
            if mx[i] == mn[i]
            else min(max(((q[i] - mn[i]) * 255) // (mx[i] - mn[i]), 0), 255)
            for i in range(4)
        ]
        dq = [mn[i] * 255 + code[i] * (mx[i] - mn[i]) for i in range(4)]
        return code, dq

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    mm = similarity.sq8_train(df, dim=4)
    got = {
        r.vec_id: (list(r.code), list(r.dq))
        for r in similarity.sq8_encode(df, mm).collect()
    }
    assert got == {i: tuple(model(g)) for i, g in enumerate(grid)}


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.one_of(st.integers(-(10**9), 10**9), st.text(max_size=12), st.none()),
        min_size=1,
        max_size=20,
        unique=True,
    ),
    st.integers(1, 12),
)
def test_rendezvous_matches_model_on_arbitrary_keys(spark, keys, n):
    """HRW assignment == the pure-Python md5 argmax for arbitrary
    key types (ints, unicode text, NULL) and any shard count."""
    import hashlib

    from proglog_spark.operators.placement import rendezvous_shard

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def model(key) -> int:
        ks = "\x00<null>" if key is None else str(key)
        return max(range(n), key=lambda s: (h60(f"hrw:{s}:{ks}"), s))

    df = spark.createDataFrame(
        [(i, None if k is None else str(k)) for i, k in enumerate(keys)],
        "i LONG, k STRING",
    )
    got = {
        r.i: r.s
        for r in df.select(
            "i", rendezvous_shard(F.col("k"), n).alias("s")
        ).collect()
    }
    want = {i: model(None if k is None else str(k)) for i, k in enumerate(keys)}
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=30,
    )
)
def test_zorder_key_is_invertible_and_local(spark, dims):
    """The Morton code is a BIJECTION on (a, b) — decoding the
    interleave recovers both dimensions exactly — and sharing a
    2k-bit z-prefix implies agreement on the top k bits of BOTH
    dims (the locality the layout's pruning rests on)."""
    from proglog_spark.operators.placement import zorder_key

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(dims)], "i LONG, a LONG, b LONG"
    )
    got = {
        r.i: r.z
        for r in df.select(
            "i", zorder_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for i, (a, b) in enumerate(dims):
        z = got[i]
        da = sum(((z >> (2 * k)) & 1) << k for k in range(8))
        db = sum(((z >> (2 * k + 1)) & 1) << k for k in range(8))
        assert (da, db) == (a, b)  # invertible
        # prefix locality: top 2k z-bits pin the top k bits of each dim
        for k in (2, 4):
            assert (z >> (16 - 2 * k)) == (
                sum(((a >> (8 - k + j)) & 1) << (2 * j) for j in range(k))
                + sum(((b >> (8 - k + j)) & 1) << (2 * j + 1) for j in range(k))
            )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(-2, 6)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 8),
)
def test_ppswor_matches_model_on_arbitrary_weights(spark, rows, k):
    """PPSWOR bottom-k == the pure-Python min-ticket model for
    arbitrary (key, weight) inputs, including zero/negative weights
    (excluded) and k larger than the eligible population."""
    import hashlib

    from proglog_spark.operators.sampling import ppswor_bottom_k

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    pri = sorted(
        (min(h60(f"ws:{key}:{i}") for i in range(w)), key, w)
        for key, w in rows
        if w > 0
    )
    want = [(key, w, t, i + 1) for i, (t, key, w) in enumerate(pri[:k])]

    df = spark.createDataFrame(rows, "doc LONG, w LONG")
    got = [
        (r.key, r.weight, r.ticket, r.rank)
        for r in ppswor_bottom_k(df, "doc", "w", k=k).orderBy("rank").collect()
    ]
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.one_of(st.integers(0, 5), st.none()),
            st.one_of(st.sampled_from(["a", "b", "c"]), st.none()),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_audit_metrics_match_pandas_model(spark, rows):
    """The one-pass audit metrics (completeness / uniqueness / set
    membership in micro fixed-point) equal a pure-pandas model on
    arbitrary NULL-ridden inputs, and bounded verdicts are NULL-strict."""
    import math

    from proglog_spark.operators import audit

    df = spark.createDataFrame(rows, "i LONG, s STRING")
    out = {
        r.check_name: (r.observed, r.passed)
        for r in audit.audit(
            df,
            [
                ("comp_i", audit.completeness_micro(F.col("i")), 500000, None),
                ("uniq_i", audit.uniqueness_micro(F.col("i")), None, 999999),
                ("mem_s", audit.membership_micro(F.col("s"), ("a", "b")), 1, 1000000),
            ],
        ).collect()
    }
    n = len(rows)
    ints = [i for i, _ in rows if i is not None]
    strs = [s for _, s in rows if s is not None]

    def micro(a, b):
        return None if b == 0 else math.floor(1_000_000 * a / b)

    want_comp = micro(len(ints), n)
    want_uniq = micro(len(set(ints)), len(ints))
    want_mem = micro(sum(s in ("a", "b") for s in strs), len(strs))
    assert out["comp_i"][0] == want_comp
    assert out["uniq_i"][0] == want_uniq
    assert out["mem_s"][0] == want_mem
    assert out["comp_i"][1] == (want_comp is not None and want_comp >= 500000)
    assert out["uniq_i"][1] == (want_uniq is not None and want_uniq <= 999999)
    assert out["mem_s"][1] == (
        want_mem is not None and 1 <= want_mem <= 1000000
    )


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=80,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_scene_cuts_match_model_on_random_clips(spark, tmp_path_factory, texts):
    """docs_video_scene_cuts == the pure-Python shot/dHash/LAG model on
    arbitrary printable-ASCII clips, including short final windows —
    the randomized generalization of the planted-clip scenario."""
    import math

    from proglog_spark.queries import REGISTRY

    def dhash(frame: bytes) -> int:
        # decode_media's general slice-mean at 8x9 (covers len != 72)
        n = len(frame)
        px = []
        for p in range(72):
            s, e = (p * n) // 72, ((p + 1) * n) // 72
            px.append(
                frame[min(s, n - 1)] if e == s
                else sum(frame[s:e]) // (e - s)
            )
        h = 0
        for r in range(8):
            for c in range(8):
                if px[r * 9 + c + 1] > px[r * 9 + c]:
                    h |= 1 << (r * 8 + c)
        return h

    def model(text: str):
        windows = [
            text[9 * i : 9 * i + 9] for i in range(math.ceil(len(text) / 9))
        ]
        frames = [
            "".join(w[r:] + w[:r] for r in range(8)).encode()
            for w in windows
            for _ in range(3)
        ]
        hashes = [dhash(f) for f in frames]
        cuts = [
            1 if i == 0 or bin(hashes[i] ^ hashes[i - 1]).count("1") >= 12
            else 0
            for i in range(len(hashes))
        ]
        lens, cur = [], 0
        for c in cuts:
            if c and cur:
                lens.append(cur)
                cur = 0
            cur += 1
        lens.append(cur)
        return len(frames), len(lens), max(lens)

    rows = [(i, t, "s", len(t)) for i, t in enumerate(texts)]
    d = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING, n_chars LONG"
    )
    td = str(tmp_path_factory.mktemp("scenes"))
    d.write.mode("overwrite").parquet(f"{td}/documents.parquet")
    got = {
        r.doc_id: (r.n_frames, r.n_scenes, r.longest_scene)
        for r in REGISTRY["docs_video_scene_cuts"][0](spark, td).collect()
    }
    assert got == {i: model(t) for i, t in enumerate(texts)}
