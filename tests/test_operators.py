"""Operator tests: property tests for probabilistic ops (FIXTURES.md
§3.5 — float-ranking / recall behaviors are property-tested, never
hash-compared) plus unit checks on deterministic kernels.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from proglog_spark.functions.vectors import cosine_similarity, quantized_dot
from proglog_spark.operators import dedup, joins, similarity, text, windows
from proglog_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# ---------------------------------------------------------------- dedup ----


def test_sketches_propagate_null_text(spark):
    """NULL text must yield NULL signature/sketch rows (the JVM
    operators' behavior), not crash the Arrow batch."""
    from proglog_spark.operators.dedup import minhash_signatures, simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma delta")],
        "doc_id LONG, text STRING",
    )
    sigs = {r.id: r.sig for r in minhash_signatures(df).collect()}
    assert sigs[2] is None and sigs[1] == sigs[3] and len(sigs[1]) == 64
    sk = {r.id: (r.simhash_lo, r.simhash_hi) for r in simhash(df).collect()}
    assert sk[2] == (None, None) and sk[1] == sk[3]


def test_containment_pairs_asymmetric_subset(spark):
    """A short doc whose token run appears verbatim inside a longer doc
    must yield containment(short→long) = 1.0 while the reverse
    direction (and unrelated docs) stay below threshold — the
    asymmetry Jaccard resemblance cannot express."""
    sub = "alpha beta gamma delta epsilon"
    sup = "zeta eta theta iota kappa " + sub + " lambda mu nu xi omicron pi"
    df = spark.createDataFrame(
        [(1, sub), (2, sup), (3, "totally different words in this one here")],
        "doc_id LONG, text STRING",
    )
    rows = {
        (r.id_a, r.id_b): r
        for r in dedup.containment_pairs(df, threshold_micro=500000).collect()
    }
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r.containment_micro == 1000000 and r.n_common == r.n_a
    assert (2, 1) not in rows, "superset direction must be below 0.5"
    assert not any(3 in p for p in rows)


def test_minhash_lsh_recall_of_high_jaccard_pairs(docs):
    """Every pair with true Jaccard >= 0.5 must be found by LSH
    (16 bands x 4 rows: P[miss at j=0.5] = (1-0.5^4)^16 ≈ 0.35 per
    band config... so we check against the planted near-dups which
    have j >= 0.8 where P[miss] < 1e-8)."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(docs, threshold_micro=800000).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    found = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold_micro=500000).collect()
    }
    missed = exact - found
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_minhash_estimate_tracks_exact_jaccard(docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard_micro
        for r in dedup.jaccard_pairs(docs, threshold_micro=500000).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard_micro
        for r in dedup.minhash_lsh_pairs(docs, threshold_micro=0).collect()
    }
    for pair, true_j in exact.items():
        assert pair in est
        # 64 hashes -> sigma ~ sqrt(j(1-j)/64) ~ 0.06; allow 4 sigma
        assert abs(est[pair] - true_j) < 250000, (pair, est[pair], true_j)


def test_simhash_close_for_near_dups_far_for_random(docs):
    sk = dedup.simhash(docs)
    pairs = dedup.jaccard_pairs(docs, threshold_micro=800000)
    a = sk.select(F.col("id").alias("id_a"), F.col("simhash_lo").alias("lo_a"), F.col("simhash_hi").alias("hi_a"))
    b = sk.select(F.col("id").alias("id_b"), F.col("simhash_lo").alias("lo_b"), F.col("simhash_hi").alias("hi_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    ham = joined.select(
        (
            F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        ).alias("d")
    ).collect()
    assert ham, "need near-dup pairs"
    for r in ham:
        assert r.d <= 16, f"near-dup pair with hamming {r.d}"


def test_fingerprint_single_token_matches_duckdb(spark):
    """Regression: a 1-token doc whose 32-bit hash exceeds p=2^31-1
    must fingerprint identically on Spark and the DuckDB oracle (the
    oracle prepends the 0 seed; bare list_reduce would not)."""
    import duckdb

    rows = [(1, "word"), (2, "a"), (3, "word a word")]  # md5('word')[:8] > p
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.fingerprint for r in text.with_fingerprint(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    from proglog_spark.queries import REGISTRY

    want = dict(con.execute(REGISTRY["docs_fingerprint"][1]).fetchall())
    assert got == want and got[1] == 3296532592 % 2147483647


def test_hamming_pairs_complete_vs_brute_force(spark, docs):
    """Pigeonhole blocking must find EVERY pair within max_hamming
    (blocks >= d+1) — compared against the all-pairs cross join."""
    sk = dedup.simhash(docs).cache()
    for d, blocks in ((3, 4), (7, 8)):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.hamming_pairs(sk, max_hamming=d, blocks=blocks).collect()
        }
        a = sk.select(F.col("id").alias("id_a"), F.col("simhash_lo").alias("lo_a"), F.col("simhash_hi").alias("hi_a"))
        b = sk.select(F.col("id").alias("id_b"), F.col("simhash_lo").alias("lo_b"), F.col("simhash_hi").alias("hi_b"))
        ham = (
            F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        ).alias("hamming")
        want = {
            (r.id_a, r.id_b, r.hamming)
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham)
            .where(F.col("hamming") <= d)
            .collect()
        }
        assert got == want, f"incomplete at d={d}, blocks={blocks}"
    with pytest.raises(ValueError):
        dedup.hamming_pairs(sk, max_hamming=7, blocks=4)  # blocks < d+1 rejected


def test_hamming_pairs_two_sided_matches_cross_filter(spark, docs):
    """The two-sided mode (other=) must equal the self-mode relation
    restricted to cross-side pairs (oriented left->right): blocking a
    new drop against an index finds exactly the pairs the union-and-
    filter spelling finds, for every left/right split — completeness
    is split-invariant."""
    sk = dedup.simhash(docs).cache()
    for d, blocks in ((3, 4), (7, 8)):
        left = sk.where(F.col("id") % 2 == 1)
        right = sk.where(F.col("id") % 2 == 0)
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.hamming_pairs(
                left, max_hamming=d, blocks=blocks, other=right
            ).collect()
        }
        ordered = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.hamming_pairs(sk, max_hamming=d, blocks=blocks)
            .where((F.col("id_a") % 2) != (F.col("id_b") % 2))
            .collect()
        }
        # orient the unordered self-mode pairs as (left_id, right_id)
        want = {
            (a, b, h) if a % 2 == 1 else (b, a, h) for a, b, h in ordered
        }
        assert got == want, f"two-sided mismatch at d={d}, blocks={blocks}"


def test_exact_dedup_on_synthetic_dupes(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique"), (4, "same text")],
        "doc_id LONG, text STRING",
    )
    out = dedup.exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0].keeper == 1 and out[0].n_dupes == 3


def test_connected_components_chains_and_isolates(spark):
    """Chains must collapse transitively to the minimum id (1-2-3-4 →
    rep 1 even though 1 and 4 never pair directly); separate clusters
    stay separate; unpaired docs don't appear."""
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (8, 9), (9, 10)], "id_a long, id_b long"
    )
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (8, 8), (9, 8), (10, 8)}
    # driver union-find path (default threshold) ...
    got = {(r.id, r.rep) for r in dedup.connected_components(pairs).collect()}
    assert got == want
    # ... and the distributed label-propagation path must agree
    dist = {
        (r.id, r.rep)
        for r in dedup.connected_components(pairs, driver_threshold=0).collect()
    }
    assert dist == want


def test_asof_join_semantics(spark):
    """Latest right at-or-before each left; max tie_break on time ties;
    NULL payload when nothing precedes; inner drops the unmatched;
    allow_exact_matches=False makes the boundary strict."""
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 1, 5), (3, 2, 20)], "lid long, k long, t long"
    ).select("lid", "k", F.timestamp_seconds("t").alias("t"))
    right = spark.createDataFrame(
        # k=10: two rows at t=100 (tie -> rid 7 wins), one later (ignored)
        [(5, 10, 100), (7, 10, 100), (9, 10, 101), (6, 2, 19)],
        "rid long, k long, rt long",
    ).select("rid", "k", F.timestamp_seconds("rt").alias("rt"))
    out = {
        r.lid: r.rid
        for r in joins.asof_join(
            left, right, on="k", left_time="t", right_time="rt", tie_break="rid"
        ).collect()
    }
    assert out == {1: 7, 2: None, 3: 6}
    inner = joins.asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        tie_break="rid", how="inner",
    )
    assert {r.lid for r in inner.collect()} == {1, 3}
    strict = {
        r.lid: r.rid
        for r in joins.asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            tie_break="rid", allow_exact_matches=False,
        ).collect()
    }
    assert strict[1] is None  # t=100 rights no longer admissible


def test_range_join_boundaries_and_bucket_spans(spark):
    """start inclusive, end exclusive; matches survive bucket-boundary
    crossings (interval spanning several buckets); disjoint keys never
    match; empty intervals match nothing."""
    pts = spark.createDataFrame(
        [(1, 1, 0), (2, 1, 3600), (3, 1, 7199), (4, 1, 7200), (5, 2, 3600)],
        "pid long, pk long, pt long",
    ).select("pid", "pk", F.timestamp_seconds("pt").alias("pt"))
    iv = spark.createDataFrame(
        [(100, 1, 0, 7200), (200, 3, 0, 7200), (300, 1, 50, 50)],
        "iid long, ik long, s long, e long",
    ).select(
        "iid", "ik",
        F.timestamp_seconds("s").alias("s"), F.timestamp_seconds("e").alias("e"),
    )
    got = {
        (r.pid, r.iid)
        for r in joins.range_join(
            pts, iv, "pk", "ik", "pt", "s", "e", bucket_seconds=3600
        ).collect()
    }
    # pid 4 is at t == end (exclusive); pid 5 has no key match
    assert got == {(1, 100), (2, 100), (3, 100)}


# ----------------------------------------------------------- similarity ----


def test_brute_force_topk_matches_numpy(spark, emb):
    import numpy as np

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    out = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=5).collect()
    got = [(r.vec_id, r.cosine) for r in sorted(out, key=lambda r: r.rank)]
    q = vecs[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 0
    }
    want = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gv, gc), (wv, wc) in zip(got, want):
        assert math.isclose(gc, wc, rel_tol=1e-9)


def test_pq_adc_recall_vs_exact_dot(spark, emb):
    """PQ-ADC at the standard 16x8-bit code must recover a healthy
    fraction of the exact dot-product top-10 (measured 0.80 on both
    fixture corpora; floor 0.6), with dense per-query ranks and an ADC
    score that is the EXACT dot of the query against the reconstructed
    (quantized) corpus vector."""
    from proglog_spark.operators import pq

    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_dot_topk(emb, qs, k=10).collect()
    }
    rows = pq.quantized_pq_ann_topk(emb, qs, dim=64, k=10).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"PQ recall too low: {recall}"
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))

    # codes: one per subspace, inside the codebook range; and the ADC
    # score of a vector against itself equals the dot of its exact
    # quantized self with its RECONSTRUCTION (codeword concatenation) —
    # recomputed here independently of the operator's LUT arithmetic
    import numpy as np

    books = pq.quantized_pq_train(emb, dim=64)
    m, n_codes, sub = books.shape
    assert (m, sub) == (16, 4) and n_codes <= 256
    coded = pq.with_pq_codes(emb.limit(20), books).collect()
    for r in coded:
        assert len(r.pq_codes) == m
        assert all(0 <= c < n_codes for c in r.pq_codes)
        q = np.floor(np.asarray(r.embedding, dtype=np.float64) * 1000).astype(
            np.int64
        )
        recon = np.concatenate([books[j][r.pq_codes[j]] for j in range(m)])
        lut_self = sum(
            int(q[j * sub : (j + 1) * sub] @ books[j][r.pq_codes[j]])
            for j in range(m)
        )
        assert lut_self == int(q @ recon)


def test_negative_sampling_excludes_all_bucket_mates(spark, emb):
    """The false-negative guard itself: no sampled negative may share
    ANY LSH bucket with its query; ranks are dense; the sample is
    reproducible (two runs agree exactly)."""
    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    rows = similarity.lsh_negative_sample(emb, qs, dim=64, k=5).collect()
    again = similarity.lsh_negative_sample(emb, qs, dim=64, k=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    b = similarity.with_quantized_lsh_buckets(
        emb.select("vec_id", "embedding"), 64, 4, 8
    ).collect()
    buckets = {}
    for r in b:
        buckets.setdefault(r.vec_id, set()).add((r.lsh_table, r.lsh_bucket))
    per_q = {}
    for r in rows:
        assert r.vec_id != r.query_id
        assert not (buckets[r.query_id] & buckets[r.vec_id]), (
            f"negative {r.vec_id} shares a bucket with query {r.query_id}"
        )
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_knn_join_graph_properties(spark, emb):
    """The kNN graph: per-source ranks are dense from 1, no
    self-edges, at most k neighbors, and for the 3 probe vectors the
    graph's edges recall a healthy share of the exact top-3 (>= 0.5 —
    same LSH parameters as the ANN recall floor)."""
    rows = similarity.quantized_knn_join(emb, dim=64, k=3).collect()
    by_src = {}
    for r in rows:
        assert r.src != r.dst
        by_src.setdefault(r.src, []).append(r.rank)
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_cosine_topk(emb, qs, k=3).collect()
    }
    got = {(r.src, r.dst) for r in rows if r.src in (0, 1, 2)}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"kNN-join recall too low: {recall}"


def test_ivfpq_recall_and_candidate_discipline(spark, emb):
    """IVF-PQ must (a) keep useful recall vs the exact dot top-10
    despite scoring only probed cells from 16-byte codes, and (b)
    return only candidates the IVF router actually admits — every
    result row's vec_id must live in one of its query's probed cells."""
    from proglog_spark.operators import pq
    from proglog_spark.operators.similarity import (
        quantized_ivf_train,
        with_quantized_ivf_cells,
    )

    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_dot_topk(emb, qs, k=10).collect()
    }
    rows = pq.quantized_ivfpq_ann_topk(emb, qs, dim=64, k=10).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.3, f"IVF-PQ recall too low: {recall}"

    cents = quantized_ivf_train(emb, 16, 3)
    cell_of = {
        r.vec_id: r.ivf_cell
        for r in with_quantized_ivf_cells(
            emb.select("vec_id", "embedding"), cents, 1
        ).collect()
    }
    probed = {}
    for r in with_quantized_ivf_cells(
        qs.select("vec_id", "embedding"), cents, 4
    ).collect():
        probed.setdefault(r.vec_id, set()).add(r.ivf_cell)
    for r in rows:
        assert cell_of[r.vec_id] in probed[r.query_id], (
            f"{r.vec_id} outside {r.query_id}'s probed cells"
        )


def test_ivfpq_residual_beats_raw_recall(spark, emb):
    """by_residual=True (the FAISS default) must match or beat the
    raw-vector IVF-PQ's recall at the same 16-byte code budget — the
    code spends on within-cell variation instead of absolute
    position."""
    from proglog_spark.operators import pq

    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_dot_topk(emb, qs, k=10).collect()
    }
    raw = {
        (r.query_id, r.vec_id)
        for r in pq.quantized_ivfpq_ann_topk(emb, qs, dim=64, k=10).collect()
    }
    res = {
        (r.query_id, r.vec_id)
        for r in pq.quantized_ivfpq_ann_topk(
            emb, qs, dim=64, k=10, by_residual=True
        ).collect()
    }
    raw_recall = len(truth & raw) / len(truth)
    res_recall = len(truth & res) / len(truth)
    assert res_recall >= raw_recall, (
        f"residual recall {res_recall} below raw {raw_recall}"
    )
    assert res_recall >= 0.3


def test_quantized_lsh_ann_matches_float_candidates(spark, emb):
    """The integer-grid LSH moves a bucket sign only inside one 0.001
    quantization cell, so its recall vs the float brute force stays
    >= 0.5, and every returned cos2_pico key is consistent with the
    quantized cosine of the pair."""
    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, qs, k=10).collect()
    }
    rows = similarity.quantized_lsh_ann_topk(
        emb, qs, dim=64, k=10, bits=4, tables=8
    ).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"quantized ANN recall too low: {recall}"
    assert all(0 <= r.cos2_pico <= 10**12 for r in rows)
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_semantic_dedup_drops_planted_duplicate(spark, emb):
    """A planted exact duplicate (same vector, higher id) must land in
    the same LSH cell and be dropped; its lower-id original and the
    rest of the corpus stay kept unless they too have a close lower-id
    neighbor. Total rows == corpus rows (partition, not filter)."""
    rows = emb.limit(20).collect()
    base = emb.limit(20).select("vec_id", "embedding")
    dup = base.where(F.col("vec_id") == rows[0].vec_id).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dup)
    out = similarity.semantic_dedup(corpus, dim=64, threshold_milli=350, bits=8).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(out) == 21
    planted = by_id[10_000 + rows[0].vec_id]
    original = by_id[rows[0].vec_id]
    assert planted.cell == original.cell
    assert not planted.kept
    assert original.kept or any(
        r.vec_id < original.vec_id and r.cell == original.cell for r in out
    )


def test_quantized_cosine_survives_zero_vector(spark, emb):
    """A degenerate all-zero embedding (missing-embedding row) must
    rank last with the sentinel key -(10^12)-1 (strictly below every
    real key, including anti-correlated pairs) — not kill the whole
    query with DIVIDE_BY_ZERO under Spark 4's default ANSI mode."""
    base = emb.limit(10).select("vec_id", "embedding")
    zero = base.limit(1).select(
        (F.col("vec_id") + 20_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0).alias("embedding"),
    )
    corpus = base.unionByName(zero)
    qs = corpus.where(F.col("vec_id") == base.collect()[0].vec_id)
    rows = similarity.quantized_cosine_topk(corpus, qs, k=20).collect()
    by_id = {r.vec_id: r for r in rows}
    zero_key = by_id[20_000 + base.collect()[0].vec_id].cos2_pico
    assert zero_key == -1_000_000_000_001
    assert zero_key < min(
        r.cos2_pico for r in rows if r.vec_id != 20_000 + base.collect()[0].vec_id
    )


def test_semantic_dedup_components_keep_min_per_chain(spark, emb):
    """Component semantics: exact duplicates collapse to the min id,
    and a connected similarity chain keeps exactly ONE representative
    (its minimum id) — the same policy as docs_dedup_keepers."""
    rows = emb.limit(5).collect()
    base = emb.limit(5).select("vec_id", "embedding")
    dups = base.select((F.col("vec_id") + 30_000).alias("vec_id"), "embedding")
    corpus = base.unionByName(dups)
    out = {r.vec_id: r for r in similarity.semantic_dedup(corpus, dim=64).collect()}
    assert len(out) == 10
    for r in rows:
        assert out[r.vec_id].kept  # min id of its exact-dup pair
        assert not out[30_000 + r.vec_id].kept  # the copy is dropped
        assert out[r.vec_id].cell == out[30_000 + r.vec_id].cell


def test_semantic_dedup_auto_bits_bounds_cells(spark, emb):
    """bits=None derives the cell count from the corpus size so cells
    hold ~target_cell_rows vectors at ANY scale: for the 6k-vector
    fixture at target 64 the widest cell must stay well under the
    fixed-bits-8 worst case, and the output is still a full partition
    of the corpus."""
    out = similarity.semantic_dedup(
        emb, dim=64, bits=None, target_cell_rows=64
    )
    total = emb.count()
    rows = out.collect()
    assert len(rows) == total
    from collections import Counter

    widest = max(Counter(r.cell for r in rows).values())
    # auto-sized cells: ~64 expected; allow generous skew headroom
    assert widest < 16 * 64


def test_ivf_train_sample_is_capped_by_default(spark):
    """The driver-side k-means training collect must stay bounded at
    ANY corpus size without the caller opting in: stride derived from
    the count, LIMIT backstop for skewed id distributions."""
    corpus = spark.range(5000).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    rows = similarity.ivf_train_sample(corpus, max_train_rows=512)
    assert 0 < len(rows) <= 512
    # deterministic: same call, same sample
    again = similarity.ivf_train_sample(corpus, max_train_rows=512)
    assert [r[0] for r in rows] == [r[0] for r in again]
    # skewed ids (all ≡ 0 mod anything via multiples) still respect the
    # cap thanks to the LIMIT backstop
    skewed = corpus.select(
        (F.col("vec_id") * 1000).alias("vec_id"), "embedding"
    )
    assert len(similarity.ivf_train_sample(skewed, max_train_rows=256)) <= 256
    # explicit stride still honored when it subsamples enough
    explicit = similarity.ivf_train_sample(corpus, sample_mod=50)
    assert len(explicit) == 100


def test_shared_sample_and_n_paths_are_identical(spark, emb):
    """The r11 session-sharing seams must be pure plumbing: passing a
    pre-collected ivf_train_sample as ``sample_rows`` (the shared-
    sample path the emb query family now uses) and passing the exact
    corpus count as ``n`` (the shared-count path for the adaptive
    sizing ladders) must produce row-identical results to the
    self-collecting / self-counting defaults."""
    from proglog_spark.operators import pq

    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    sample = similarity.ivf_train_sample(emb)
    n = emb.count()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        similarity.quantized_ivf_ann_topk(
            emb, qs, dim=64, k=5, n_cells=8, iters=2, n_probe=2,
            sample_rows=sample,
        )
    ) == rows(
        similarity.quantized_ivf_ann_topk(
            emb, qs, dim=64, k=5, n_cells=8, iters=2, n_probe=2
        )
    )
    assert rows(
        pq.quantized_pq_ann_topk(
            emb, qs, dim=64, k=5, m=8, n_codes=16, iters=2,
            sample_rows=sample,
        )
    ) == rows(
        pq.quantized_pq_ann_topk(emb, qs, dim=64, k=5, m=8, n_codes=16, iters=2)
    )
    assert rows(
        pq.quantized_ivfpq_ann_topk(
            emb, qs, dim=64, k=5, n_cells=8, m=8, n_codes=16,
            by_residual=True, sample_rows=sample,
        )
    ) == rows(
        pq.quantized_ivfpq_ann_topk(
            emb, qs, dim=64, k=5, n_cells=8, m=8, n_codes=16, by_residual=True
        )
    )
    assert rows(
        similarity.quantized_lsh_ann_topk(emb, qs, dim=64, k=5, n=n)
    ) == rows(similarity.quantized_lsh_ann_topk(emb, qs, dim=64, k=5))
    assert rows(
        similarity.quantized_ivf_knn_join(
            emb, dim=64, k=3, n=n, sample_rows=sample
        )
    ) == rows(similarity.quantized_ivf_knn_join(emb, dim=64, k=3))


def test_bm25_shared_tf_path_identical(spark, docs, tmp_path):
    """The r11 shared-tf seam must be pure plumbing: passing a
    pre-computed (doc_id, term, tf) table into bm25_topk /
    bm25_index_write (the session-shared path docs_bm25_* now use)
    must produce row-identical results to the self-tokenizing
    defaults — including through the persisted-index round trip."""
    queries = [(0, "hash"), (0, "join"), (1, "stream")]
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        text.bm25_topk(
            docs, queries, k=5, tf=tf.withColumnRenamed("doc_id", "_id")
        )
    ) == rows(text.bm25_topk(docs, queries, k=5))

    p_self, p_shared = str(tmp_path / "ix_self"), str(tmp_path / "ix_shared")
    text.bm25_index_write(docs, p_self)
    text.bm25_index_write(docs, p_shared, tf=tf)
    assert rows(text.bm25_index_query(spark, p_self, queries, k=5)) == rows(
        text.bm25_index_query(spark, p_shared, queries, k=5)
    )


def test_dsir_shared_features_path_identical(spark, docs, tmp_path):
    """The r11 shared-feature seam must be pure plumbing: passing a
    pre-computed (doc_id, is_tgt, bk, k) table into dsir_topk /
    dsir_model_write (the session-shared path the DSIR queries now
    use) must produce row-identical results to the self-featurizing
    defaults — including the new-data path where the two halves are
    parity filters of the shared table."""
    is_tgt = F.col("lang") == "en"
    feats = text._dsir_doc_features(docs, 10007, "text", "doc_id", is_tgt)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        text.dsir_topk(docs, is_tgt, k=50, doc_features=feats)
    ) == rows(text.dsir_topk(docs, is_tgt, k=50))

    even, odd = docs.where(F.col("doc_id") % 2 == 0), docs.where(
        F.col("doc_id") % 2 == 1
    )
    p_self, p_shared = str(tmp_path / "m_self"), str(tmp_path / "m_shared")
    text.dsir_model_write(even, is_tgt, p_self)
    text.dsir_model_write(
        even, is_tgt, p_shared,
        doc_features=feats.where(F.col("doc_id") % 2 == 0),
    )
    assert rows(text.dsir_model_score(spark, p_self, odd, k=50)) == rows(
        text.dsir_model_score(
            spark, p_shared, odd, k=50,
            doc_features=feats.where(F.col("doc_id") % 2 == 1),
        )
    )


def test_quantized_ivf_recall_vs_exact(spark, emb):
    """The oracle-exact IVF keeps recall >= 0.5 against the exact
    top-10 on the near-random fixture (the hard regime)."""
    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_cosine_topk(emb, qs, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_ivf_ann_topk(
            emb, qs, dim=64, k=10, n_cells=16, iters=3, n_probe=4
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"quantized IVF recall too low: {recall}"


def test_quantized_ivf_train_integer_grid_and_determinism(spark, emb):
    """Training is int64 on the ±scale grid and bit-stable across runs
    (no RNG, first-max ties) — the property the SQL oracle relies on."""
    import numpy as np

    a = similarity.quantized_ivf_train(emb, n_cells=8, iters=3)
    b = similarity.quantized_ivf_train(emb, n_cells=8, iters=3)
    assert a.dtype == np.int64 and a.shape == (8, 64)
    assert (a == b).all()
    assert int(np.abs(a).max()) <= 1000


def test_quantized_ivf_handles_zero_vector(spark):
    """A zero corpus vector has no defined cosine: it must flow through
    assignment (key 0 for every cell ⇒ cell 0 by tie-break) and rank
    with the sentinel key, never raise."""
    base = [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)]) for i in range(1, 40)]
    corpus = spark.createDataFrame(
        [(0, [0.0] * 4)] + base, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    qs = corpus.where(F.col("vec_id") == 1)
    out = similarity.quantized_ivf_ann_topk(
        corpus, qs, dim=4, k=40, n_cells=4, iters=2, n_probe=4
    ).collect()
    zero_rows = [r for r in out if r.vec_id == 0]
    assert all(r.cos2_pico == -1000000000001 for r in zero_rows)
    # sentinel rows rank below every real-cosine candidate
    if zero_rows:
        assert zero_rows[0].rank == max(r.rank for r in out)


def test_masked_vector_rows_empty_batch():
    """Zero-length Arrow batches (empty partitions, post-filter) must
    not reach np.stack([]): the empty branch fires BEFORE the all-valid
    fast path, where mask.all() is vacuously True on length 0."""
    import pandas as pd

    from proglog_spark.operators.linalg import masked_vector_rows

    mask, mat = masked_vector_rows(pd.Series([], dtype=object))
    assert len(mask) == 0 and mat.shape == (0, 0)
    # 1-row sanity on each branch around it
    mask, mat = masked_vector_rows(pd.Series([[1.0, 2.0]]))
    assert mask.tolist() == [True] and mat.shape == (1, 2)
    mask, mat = masked_vector_rows(pd.Series([None], dtype=object))
    assert mask.tolist() == [False] and mat.shape == (0, 0)


def test_null_embedding_never_crashes_encode_paths(spark, emb):
    """A single NULL embedding row must not kill any Arrow encode/
    bucket/assign job (np.stack over a None is an opaque worker
    TypeError without the masked_vector_rows guard) — the null row is
    simply excluded, matching linalg's NULL-skip contract."""
    from proglog_spark.operators import pq

    corpus = (
        emb.select("vec_id", "embedding")
        .limit(60)
        .unionByName(
            spark.createDataFrame(
                [(999999, None)], "vec_id LONG, embedding ARRAY<DOUBLE>"
            )
        )
    )
    qs = corpus.where(F.col("vec_id").isin(0, 1))

    knn = similarity.quantized_knn_join(corpus, dim=64, k=2).collect()
    assert knn and all(r.src != 999999 and r.dst != 999999 for r in knn)

    nd = similarity.embedding_cosine_neardup(corpus, dim=64, threshold=0.45).collect()
    assert all(r.id_a != 999999 and r.id_b != 999999 for r in nd)

    ivf = similarity.quantized_ivf_ann_topk(
        corpus, qs, dim=64, k=5, n_cells=4, iters=2, n_probe=2
    ).collect()
    assert ivf and all(r.vec_id != 999999 for r in ivf)

    for resid in (False, True):
        out = pq.quantized_ivfpq_ann_topk(
            corpus, qs, dim=64, k=5, n_cells=4, ivf_iters=2, pq_iters=1,
            n_probe=2, by_residual=resid,
        ).collect()
        assert out and all(r.vec_id != 999999 for r in out)

    # a NULL QUERY vector is skipped too (it emits no rows), not fatal
    nq = qs.unionByName(
        spark.createDataFrame([(999998, None)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    )
    out = pq.quantized_pq_ann_topk(corpus, nq, dim=64, k=5, iters=1).collect()
    assert out and all(r.query_id != 999998 for r in out)


def test_embedding_cosine_neardup_finds_planted_pair(spark, emb):
    """A corpus vector duplicated under a new id (tiny jitter) must be
    recovered as a near-dup pair; unrelated random pairs must not.
    Exercises the default ADAPTIVE bits path (the recall pin the
    bucket-replaying oracle no longer provides): near-identical clones
    survive the ladder's finer buckets at any corpus size because
    their integer-grid sign patterns agree in every table."""
    planted = emb.where(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        "label",
    )
    df = emb.select("vec_id", "embedding", "label").unionByName(planted)
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_cosine_neardup(
            df, dim=64, threshold=0.95
        ).collect()
    }
    assert (7, 100007) in pairs
    for a, b in pairs:
        assert b == a + 100000  # only the planted clones clear 0.95


def test_embedding_cosine_neardup_verifies_on_its_scale_grid(spark):
    """Bucketing and verification share the floor(x·scale) grid at a
    non-default scale. Each twin (id + 100) differs from its original
    in every component but not on the scale=100 grid, so the twins
    collide in every table and are grid-identical (cosine 1), while on
    the default 1000 grid their cosine is 0.990-0.995. The result must
    equal an all-pairs numpy reference on the 100 grid."""
    import numpy as np

    rng = np.random.default_rng(0)
    k = rng.integers(-5, 6, size=(12, 16))
    vecs = {i: (k[i] + 0.2) / 100 for i in range(12)}
    vecs.update({100 + i: (k[i] + 0.7) / 100 for i in range(4)})
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in vecs.items()], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    t_milli = 995
    grid = {i: np.floor(v * 100.0).astype(np.int64) for i, v in vecs.items()}
    want = {}
    for a in grid:
        for b in grid:
            if a < b:
                d, na, nb = (int(grid[x] @ grid[y]) for x, y in ((a, b), (a, a), (b, b)))
                if d > 0 and 10**6 * d * d >= t_milli**2 * na * nb:
                    want[(a, b)] = d * d * 10**12 // (na * nb)
    assert sorted(want) == [(i, 100 + i) for i in range(4)]
    got = {
        (r.id_a, r.id_b): r.cos2_pico
        for r in similarity.embedding_cosine_neardup(
            df, dim=16, threshold=t_milli / 1000, bits=4, scale=100
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("threshold", [0.0, -0.5, 1.5])
def test_embedding_cosine_neardup_rejects_bad_threshold(emb, threshold):
    """The squared-threshold test is one-sided: a threshold outside
    (0, 1] raises (a ValueError, which python -O keeps)."""
    with pytest.raises(ValueError, match="threshold"):
        similarity.embedding_cosine_neardup(emb, dim=64, threshold=threshold, bits=4)


@pytest.mark.parametrize("threshold_milli", [0, -350])
def test_semantic_dedup_rejects_bad_threshold(emb, threshold_milli):
    with pytest.raises(ValueError, match="threshold_milli"):
        similarity.semantic_dedup(emb, dim=64, threshold_milli=threshold_milli)


def test_salted_join_matches_plain_join(spark):
    """salted_join must be row-identical to the plain equi-join,
    including a pathologically hot key and unmatched rows."""
    from proglog_spark.operators.skew import salted_join

    large = spark.createDataFrame(
        [(1, f"v{i}") for i in range(500)] + [(2, "x"), (3, "y")],
        "k long, payload string",
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], "k long, name string")
    got = sorted(tuple(r) for r in salted_join(large, small, "k", salt_factor=4).collect())
    want = sorted(tuple(r) for r in large.join(small, "k").collect())
    assert got == want and len(got) == 501


def test_quantized_dot_matches_python(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.125], [1.0, 2.0, -4.0])],
        "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    out = df.select(quantized_dot(F.col("a"), F.col("b"), 1000).alias("d")).collect()[0].d
    want = sum(
        math.floor(x * 1000) * math.floor(y * 1000)
        for x, y in [(0.5, 1.0), (-0.25, 2.0), (0.125, -4.0)]
    )
    assert out == want


def test_cosine_similarity_identity(spark, emb):
    row = (
        emb.where(F.col("vec_id") == 7)
        .select(cosine_similarity(F.col("embedding"), F.col("embedding")).alias("c"))
        .collect()[0]
    )
    assert math.isclose(row.c, 1.0, rel_tol=1e-9)


# ------------------------------------------------------------------ text ----


def test_fingerprint_matches_pure_python(spark, docs):
    import hashlib

    sample = docs.where(F.col("doc_id") < 5).select("doc_id", "text").collect()
    got = {
        r.doc_id: r.fingerprint
        for r in text.with_fingerprint(docs.where(F.col("doc_id") < 5))
        .select("doc_id", "fingerprint")
        .collect()
    }
    for r in sample:
        acc = 0
        for tok in r.text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            acc = (acc * 31 + h) % text.FNV_MOD
        assert got[r.doc_id] == acc, r.doc_id


def test_lang_id_deterministic_tiebreak(spark):
    df = spark.createDataFrame([(1, "xyzzy plugh")], "doc_id LONG, text STRING")
    out = text.with_lang_id(df).collect()[0]
    assert out.predicted_lang == "en"  # zero scores everywhere -> first lang wins


# --------------------------------------------------------------- windows ----


def test_sessionize_gap_semantics(spark):
    base = 1_700_000_000
    rows = [
        (1, base), (1, base + 60), (1, base + 2000),  # gap 1940s < 1800? no: 2000-60=1940 > 1800 -> new session
        (2, base),
    ]
    df = spark.createDataFrame(
        [(u, t * 1_000_000) for u, t in rows], "user_id LONG, ts_us_raw LONG"
    ).select("user_id", F.timestamp_micros("ts_us_raw").alias("ts"))
    out = windows.sessionize(df, "user_id", "ts", gap_seconds=1800).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2  # split at the 1940s gap
    assert len(by_user[2]) == 1
    s0 = sorted(by_user[1], key=lambda r: r.session_id)
    assert s0[0].n_events == 2 and s0[1].n_events == 1


# ------------------------------------------------------------- sampling ----


def test_hash_sample_nested_and_partition_stable(docs):
    """Rate-a sample must be a subset of rate-b (a<b) with identical
    membership under any repartitioning — the properties RNG sampling
    lacks."""
    from proglog_spark.operators import sampling

    s10 = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 100000).collect()}
    s20 = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 200000).collect()}
    assert s10 and s10 < s20
    rep = {
        r.doc_id
        for r in sampling.hash_sample(docs.repartition(13), "doc_id", 100000).collect()
    }
    assert rep == s10


def test_stratified_sample_exact_counts_and_determinism(docs):
    from proglog_spark.operators import sampling

    out = sampling.stratified_sample(docs, ["lang"], 7, "doc_id").collect()
    per = {}
    for r in out:
        per.setdefault(r.lang, []).append((r.sample_rank, r.doc_id))
    sizes = {lang: len(v) for lang, v in per.items()}
    truth = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {lang: min(7, n) for lang, n in truth.items()}
    again = sampling.stratified_sample(docs.repartition(5), ["lang"], 7, "doc_id").collect()
    assert sorted((r.lang, r.sample_rank, r.doc_id) for r in again) == sorted(
        (r.lang, r.sample_rank, r.doc_id) for r in out
    )


# ----------------------------------------------------------------- rank ----


def test_global_rank_matches_window_row_number(spark):
    """The range-partitioned global rank must equal a plain
    row_number() OVER (ORDER BY ...) — the single-partition
    formulation it replaces at scale."""
    from pyspark.sql import Window

    from proglog_spark.operators import rank as rank_ops

    df = spark.range(0, 997).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.col("id")
    )
    ranked, total = rank_ops.with_global_rank(df, ["k", "id"], num_partitions=7)
    assert total == 997
    got = {(r.k, r.id): r["rank"] for r in ranked.collect()}
    w = Window.orderBy("k", "id")
    want = {
        (r.k, r.id): r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


@pytest.mark.parametrize("n,count", [(10, 997), (10, 1000), (7, 5), (3, 3)])
def test_global_ntile_matches_window_ntile(spark, n, count):
    """Exact NTILE remainder semantics, including n > total rows."""
    from pyspark.sql import Window

    from proglog_spark.operators import rank as rank_ops

    df = spark.range(0, count).select((F.col("id") * 97 % 1009).alias("k"), "id")
    tiled = rank_ops.with_global_ntile(df, ["k", "id"], n, num_partitions=4)
    got = {(r.k, r.id): r.tile for r in tiled.collect()}
    w = Window.orderBy("k", "id")
    want = {(r.k, r.id): r.nt for r in df.withColumn("nt", F.ntile(n).over(w)).collect()}
    assert got == want


# ------------------------------------------------------------- sampling ----


def test_train_split_partitions_and_is_independent_of_hash_sample(docs):
    """The split labels must partition the corpus, be stable across
    recomputation/repartitioning, and be INDEPENDENT of hash_sample
    (distinct default salts): with a shared salt every sample at rate
    <= 80% consisted exclusively of 'train' rows, silently emptying
    the valid/test splits of any sampled corpus."""
    from proglog_spark.operators import sampling

    labeled = sampling.train_split(docs, "doc_id")
    by_split = {
        r.split: r.n for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(by_split.values()) == docs.count()
    assert set(by_split) <= {"train", "valid", "test"}
    train_ids = {r.doc_id for r in labeled.where(F.col("split") == "train").collect()}
    sample_ids = {
        r.doc_id for r in sampling.hash_sample(docs, "doc_id", 800_000).collect()
    }
    # decorrelated: the sample must CROSS split boundaries (~80% of it
    # lands in train, not 100%) so a sampled corpus still has
    # valid/test membership
    inter = len(train_ids & sample_ids) / len(sample_ids)
    assert train_ids != sample_ids
    assert 0.65 < inter < 0.95, inter
    relabeled = sampling.train_split(docs.repartition(7), "doc_id")
    again = {r.doc_id for r in relabeled.where(F.col("split") == "train").collect()}
    assert again == train_ids


def test_repetition_stats_consistency(spark, sf_dir):
    """Per-doc invariants: top counts bounded by totals, distinct <=
    total, micro-fraction in range, and an exact hand-check on the
    most repetitive doc's top word."""
    from collections import Counter

    from proglog_spark.queries import REGISTRY

    rows = REGISTRY["docs_repetition_stats"][0](spark, sf_dir).collect()
    docs_local = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(docs_local)
    worst = max(rows, key=lambda r: r.top_word_micro)
    for r in rows:
        assert 1 <= r.top_word_n <= r.n_words
        assert r.n_distinct_words <= r.n_words
        assert 0 <= r.top_word_micro <= 1_000_000
        assert r.top_bigram_n <= max(r.n_words - 1, 0)
    counts = Counter(docs_local[worst.doc_id].split(" "))
    assert worst.top_word_n == max(counts.values())
    assert worst.n_words == sum(counts.values())


def test_contamination_flags_only_gram_sharers(spark, sf_dir):
    """Every flagged doc must genuinely share a 5-gram with a
    benchmark doc (exact recount in Python), and contamination_micro
    must equal the floored shared/total ratio."""
    from proglog_spark.queries import REGISTRY

    flagged = REGISTRY["docs_contamination"][0](spark, sf_dir).collect()
    docs_local = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}

    bench = set()
    for r in docs_local:
        if r.doc_id % 97 == 0:
            bench |= grams(r.text)
    by_id = {r.doc_id: grams(r.text) for r in docs_local if r.doc_id % 97 != 0}
    expected = {
        did: len(gs & bench) for did, gs in by_id.items() if gs & bench
    }
    got = {r.doc_id: r.n_shared_grams for r in flagged}
    assert got == expected
    for r in flagged:
        assert r.contamination_micro == (1_000_000 * r.n_shared_grams) // r.n_grams


# ----------------------------------------------------------------- udtf ----


def test_udtf_ngrams_matches_builtin_transform(spark, sf_dir):
    """The Python UDTF fan-out must agree row-for-row with the
    JVM-side explode(transform(...)) twin (the hot-path formulation)."""
    from proglog_spark.queries import REGISTRY

    got = {
        (r.doc_id, r.pos): r.gram
        for r in REGISTRY["docs_udtf_ngrams"][0](spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    builtin = w.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 3,
                F.expr(
                    "transform(sequence(1, size(w) - 2), "
                    "i -> struct(i - 1 AS pos, concat_ws(' ', slice(w, i, 3)) AS gram))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("pg"),
    ).select("doc_id", "pg.pos", "pg.gram")
    want = {(r.doc_id, r.pos): r.gram for r in builtin.collect()}
    assert got == want and got


def test_pii_scrub_counts_and_redaction(spark):
    """Crafted-PII redaction: counts per pattern and full scrub (the
    fixture corpus is PII-free, so the declared query augments it; this
    test pins the operator itself on adversarial strings)."""
    rows = [
        (0, "mail a.b-c_d@sub.example.co.uk then http://x.io/p%20q done"),
        (1, "ips 10.0.0.1 and 255.255.255.255, call +44-123-456-7890"),
        (2, "no pii here, just words and 1234 numbers"),
        (3, "double alice@ex.com bob@ex.org https://a.b/c https://d.e/f"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: r.asDict()
        for r in text.with_pii_scrub(df).collect()
    }
    assert (got[0]["n_email"], got[0]["n_url"]) == (1, 1)
    assert (got[1]["n_ipv4"], got[1]["n_phone"]) == (2, 1)
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"], got[2]["n_url"]) == (0, 0, 0, 0)
    assert got[2]["redacted"] == rows[2][1]  # untouched text passes through
    assert (got[3]["n_email"], got[3]["n_url"]) == (2, 2)
    assert got[3]["redacted"] == "double <EMAIL> <EMAIL> <URL> <URL>"
    assert "<EMAIL>" in got[0]["redacted"] and "<URL>" in got[0]["redacted"]
    assert "@" not in got[0]["redacted"].replace("<EMAIL>", "")
    assert got[1]["redacted"] == "ips <IP> and <IP>, call <PHONE>"


def test_integer_power_iteration_tracks_float_eigensolve(spark, emb):
    """The integer-exact trajectory must converge to the same dominant
    direction as numpy's dense eigendecomposition of the float Gram
    (|cosine| > 0.999 after 8 integer steps on the fixture), and the
    Rayleigh pair must approximate the top eigenvalue of the QUANTIZED
    Gram."""
    import numpy as np

    from proglog_spark.operators import linalg

    G = linalg.quantized_gram(emb, "embedding", dim=64)
    v, num, den = linalg.integer_power_iteration(G)
    vec = np.array(v, dtype=np.float64)
    evals, evecs = np.linalg.eigh(G.astype(np.float64))
    top = evecs[:, -1]
    cos = abs(vec @ top) / (np.linalg.norm(vec) * np.linalg.norm(top))
    assert cos > 0.9999, cos
    assert abs(num / den - evals[-1]) / evals[-1] < 1e-6


def test_profile_columns_nulls_and_rendering(spark):
    """Profile must count nulls, aggregate min/max on TYPED values
    (not rendered strings — '9' vs '10' would invert), and render
    fixed-point micros / ISO dates canonically."""
    from proglog_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [
            (9, 1.5, "b", "2024-03-01 10:00:00"),
            (10, None, "a", "2023-12-31 23:59:59"),
            (2, 0.25, None, None),
            (10, -1.75, "a", "2024-03-01 10:00:00"),
        ],
        "k LONG, v DOUBLE, s STRING, t STRING",
    ).selectExpr("k", "v", "s", "CAST(t AS TIMESTAMP) AS t")
    out = {
        r.column_name: r
        for r in profile_columns(
            df, [("k", "int"), ("v", "micros"), ("s", "str"), ("t", "date")]
        ).collect()
    }
    assert all(r.n_rows == 4 for r in out.values())
    assert (out["k"].n_nulls, out["k"].n_distinct) == (0, 3)
    # typed min/max: 2..10, not lexicographic "10".."9"
    assert (out["k"].min_repr, out["k"].max_repr) == ("2", "10")
    assert (out["v"].n_nulls, out["v"].n_distinct) == (1, 3)
    assert (out["v"].min_repr, out["v"].max_repr) == ("-1750000", "1500000")
    assert (out["s"].min_repr, out["s"].max_repr) == ("a", "b")
    assert (out["t"].min_repr, out["t"].max_repr) == ("2023-12-31", "2024-03-01")


def test_gap_fill_dense_spine_and_running_totals(spark):
    """Every bucket between global min and max appears for every key,
    zeros where nothing happened, running totals accumulate."""
    from proglog_spark.operators.timeseries import gap_fill

    rows = [
        ("a", "2024-01-01 00:00:30"),
        ("a", "2024-01-01 00:03:10"),
        ("a", "2024-01-01 00:03:50"),
        ("b", "2024-01-01 00:01:05"),
    ]
    df = spark.createDataFrame(rows, "k STRING, t STRING").selectExpr(
        "k", "CAST(t AS TIMESTAMP) AS ts"
    )
    out = gap_fill(df, "ts", ["k"], 60).collect()
    base = out[0].bucket
    # 4 buckets (minutes 0..3) x 2 keys, dense
    assert len(out) == 8
    got = {(r.k, r.bucket - base): (r.n_events, r.cum_events) for r in out}
    assert got[("a", 0)] == (1, 1)
    assert got[("a", 1)] == (0, 1)  # gap zero-filled, total carried
    assert got[("a", 2)] == (0, 1)
    assert got[("a", 3)] == (2, 3)
    assert got[("b", 0)] == (0, 0)
    assert got[("b", 1)] == (1, 1)
    assert got[("b", 3)] == (0, 1)


def test_running_total_and_packing_match_window(spark):
    """Two-phase distributed running sum == naive single-partition
    window; straddling documents keep their starting bin."""
    from pyspark.sql import Window
    from proglog_spark.operators.packing import pack_sequences, with_running_total

    df = spark.range(1000).select(
        F.col("id").alias("k"), ((F.col("id") * 37) % 100 + 1).alias("sz")
    )
    got = {
        r.k: r.running_total
        for r in with_running_total(df, ["k"], "sz", num_partitions=7).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.cum for r in df.withColumn("cum", F.sum("sz").over(w)).collect()}
    assert got == want

    packed = pack_sequences(df, ["k"], "sz", 512, num_partitions=7)
    rows = {r.k: r.bin_id for r in packed.collect()}
    assert rows == {k: (want[k] - (k * 37) % 100 - 1) // 512 for k in rows}
    # bins fill contiguously: bin ids are dense from 0
    bins = sorted(set(rows.values()))
    assert bins == list(range(len(bins)))


def test_mixture_sample_nested_and_weighted(docs):
    """Raising a source's rate only ADDS documents (hash-nested), and
    per-source keep fractions track the declared weights."""
    from proglog_spark.operators.sampling import mixture_rates, mixture_sample

    lo = mixture_rates(F.col("source"), {"src0": 200000}, 100000)
    hi = mixture_rates(F.col("source"), {"src0": 800000}, 400000)
    kept_lo = {r.doc_id for r in mixture_sample(docs, "doc_id", lo).select("doc_id").collect()}
    kept_hi = {r.doc_id for r in mixture_sample(docs, "doc_id", hi).select("doc_id").collect()}
    assert kept_lo <= kept_hi
    n = docs.count()
    assert 0 < len(kept_lo) < len(kept_hi) < n


def test_bloom_filtered_join_matches_plain_join(spark, sf_dir):
    """Bloom pre-pruning never changes the join result (false
    positives are removed by the exact join; false negatives are
    impossible), and the probe really prunes: kept rows sit between
    the true match count and full size."""
    from proglog_spark.operators import bloomjoin

    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    )
    got = bloomjoin.bloom_filtered_join(li, o, on="l_orderkey")
    want = li.join(o, on="l_orderkey")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    bitmap, m, k = bloomjoin.bloom_build(o, "l_orderkey", o.count(), fpp=0.01)
    kept = bloomjoin.bloom_probe(li, "l_orderkey", bitmap, m, k).count()
    true_matches = want.count()
    assert true_matches <= kept < li.count()
    # ~1% fpp: false-positive rows are a small fraction of the pruned-away set
    assert (kept - true_matches) <= 0.05 * li.count() + 10

    with pytest.raises(ValueError, match="inner/semi"):
        bloomjoin.bloom_filtered_join(li, o, on="l_orderkey", how="left")


def test_bloom_probe_no_false_negatives(spark):
    """Every key actually in the build set survives the probe, even at
    aggressive (tiny) bitmap sizing where false positives abound."""
    from proglog_spark.operators import bloomjoin

    build = spark.range(0, 500, 7).withColumnRenamed("id", "k")  # 72 keys
    probe = spark.range(0, 500).withColumnRenamed("id", "k")
    bitmap, m, kh = bloomjoin.bloom_build(build, "k", 72, fpp=0.3)
    kept = {r.k for r in bloomjoin.bloom_probe(probe, "k", bitmap, m, kh).collect()}
    assert {r.k for r in build.collect()} <= kept


def test_misra_gries_one_sided_bounds(spark, docs):
    """Merged MG estimates are pure undercounts within N/(k+1), and
    every key above the error bound is present — the PODS'12 merge
    guarantee the sketch query's gate relies on. k=7 with a 31-term
    vocabulary forces constant decrement churn."""
    from proglog_spark.operators import sketch

    toks = (
        docs.select(F.explode(F.split("text", "[^A-Za-z]+")).alias("t"))
        .where(F.col("t") != "")
        .select(F.lower("t").alias("term"))
        .repartition(8)  # several partitions -> several summaries merged
    )
    k = 7
    est = {r.term: r.est for r in sketch.misra_gries(toks, "term", k=k).collect()}
    exact = {
        r.term: r.n
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    bound = n_total // (k + 1)
    for term, e in est.items():
        assert e <= exact[term]
        assert e >= exact[term] - bound
    for term, n in exact.items():
        if n > bound:
            assert term in est, f"guaranteed-heavy term {term} missing"


def test_count_min_overcounts_and_merges(spark):
    """CMS point estimates are pure OVERcounts (est >= true, the
    mirror of MG's undercount), the cell table never exceeds
    depth x width rows, and cell-wise sum of two disjoint-slice
    sketches equals the whole-corpus sketch — the mergeability the
    events_cms_merge gate asserts. A tiny width (16) forces heavy
    collision so the overcount branch is actually exercised."""
    from proglog_spark.operators import sketch

    df = (
        spark.range(0, 2000)
        .select((F.col("id") % 37).alias("k"))
        .repartition(8)
    )
    depth, width = 4, 16
    cms = sketch.cms_build(df, "k", depth=depth, width=width)
    assert cms.count() <= depth * width
    keys = df.select("k").distinct()
    est = {
        r.k: r.est
        for r in sketch.cms_estimate(cms, keys, "k", depth=depth, width=width).collect()
    }
    exact = {
        r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[k] >= n for k, n in exact.items())
    assert any(est[k] > n for k, n in exact.items()), "width=16 should collide"

    lo = sketch.cms_build(df.where(F.col("k") < 20), "k", depth=depth, width=width)
    hi = sketch.cms_build(df.where(F.col("k") >= 20), "k", depth=depth, width=width)
    merged = {
        (r.j, r.b): r.cnt
        for r in lo.unionByName(hi)
        .groupBy("j", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {(r.j, r.b): r.cnt for r in cms.collect()}
    assert merged == whole

    # inner product: a deterministic OVERestimate of the true
    # equi-join cardinality sum_k fa(k)*fb(k), and collisions at
    # width=16 must actually inflate it
    est = sketch.cms_inner_product(lo, hi).collect()[0].est
    fa = {r.k: r.n for r in df.where(F.col("k") < 20).groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    fb = {r.k: r.n for r in df.where(F.col("k") >= 20).groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    true_ip = sum(n * fb.get(k, 0) for k, n in fa.items())
    assert true_ip == 0  # disjoint key ranges: the TRUE join is empty
    assert est >= true_ip
    assert est > 0, "width=16 collisions should inflate the estimate"


def test_bm25_ranking_properties(spark, sf_dir):
    """BM25 sanity on a constructed corpus: a document matching more
    query terms with higher tf outranks a one-term match; a document
    with no query terms never appears; rarer terms contribute more
    than common ones at equal tf (idf monotonicity)."""
    d = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "apple kiwi kiwi kiwi"),
            (3, "plum plum plum plum"),
            (4, "banana cherry apple apple"),
            (5, "apple plum kiwi cherry"),
        ],
        "doc_id long, text string",
    )
    rows = text.bm25_topk(d, [(0, "apple"), (0, "banana")], k=10).collect()
    got = {r.doc_id: (r.rank, r.score_micro) for r in rows}
    assert 3 not in got, "doc without query terms retrieved"
    # docs 1 and 4 match both terms with tf 2+1 — they must outrank
    # the one-term matches 2 and 5
    assert got[1][0] <= 2 and got[4][0] <= 2
    assert got[2][0] >= 3 and got[5][0] >= 3
    # banana (df=2) is rarer than apple (df=4): at tf=1 each, the
    # banana contribution must exceed the apple contribution, so doc 5
    # (apple only, tf=1, same length) scores below a hypothetical
    # banana-only doc — check via the score gap between 2 (apple tf=1
    # + nothing) and... directly: score(1) == score(4) (identical
    # stats), strictly above score(2) and score(5)
    assert got[1][1] == got[4][1]
    assert got[1][1] > got[2][1] and got[1][1] > got[5][1]


def test_cluster_safe_split_never_straddles(spark, sf_dir):
    """The leakage property itself: every near-dup PAIR lands in the
    same split (the doc-keyed split can and does violate this), and
    the label set is the standard three."""
    from proglog_spark.queries import docs_cluster_safe_split

    out = docs_cluster_safe_split(spark, sf_dir)
    split_of = {r.doc_id: r.split for r in out.collect()}
    assert set(split_of.values()) <= {"train", "valid", "test"}
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold_micro=200000).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for r in pairs:
        assert split_of[r.id_a] == split_of[r.id_b], (
            f"near-dups {r.id_a}/{r.id_b} straddle splits"
        )


def test_lm_quality_filter_verdict_consistency(spark, sf_dir):
    """is_kept iff the doc scored AND cleared the threshold; docs too
    short to form a trigram carry the -1 sentinel and are dropped."""
    from proglog_spark.queries import _LM_KEEP_MICRO, docs_lm_quality_filter
    import tempfile

    rows = docs_lm_quality_filter(spark, sf_dir).collect()
    assert any(r.is_kept for r in rows) and any(not r.is_kept for r in rows)
    for r in rows:
        assert r.is_kept == (r.lm_micro >= _LM_KEEP_MICRO)

    # a one-word doc must survive the pipeline as (-1, dropped)
    import shutil

    tmp = tempfile.mkdtemp()
    try:
        d = load_table(spark, sf_dir, "documents")
        d.limit(5).unionByName(
            spark.createDataFrame(
                [(999_999, "stub", "en", "unit", 4)], d.schema
            )
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        short = {
            r.doc_id: r
            for r in docs_lm_quality_filter(spark, tmp).collect()
        }[999_999]
        assert short.lm_micro == -1 and not short.is_kept
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bpe_training_survives_fully_merged_word(spark):
    """A frequent single-char word collapses to ONE symbol after its
    first merge; later iterations must skip it (pairless) instead of
    evaluating sequence(1,0) -> element_at(syms, 0) and aborting."""
    from proglog_spark.operators.bpe import encode, train_bpe

    df = spark.createDataFrame(
        [(i, "a a a a b c") for i in range(4)], "doc_id LONG, text STRING"
    )
    merges = train_bpe(df, num_merges=6, min_pair_count=2)
    assert ("a", "</w>") in merges
    out = {r.doc_id: r for r in encode(df, merges).collect()}
    assert out[0].n_words == 6
    assert out[0].n_tokens >= out[0].n_words  # fully merged words = 1 token


def test_bpe_training_matches_python_reference(spark, sf_dir):
    """Distributed BPE (corpus reduced to the weighted word-frequency
    table, then vocabulary-sized merge iterations) must reproduce the
    exact merge sequence of a sequential in-memory implementation —
    including the deterministic count-desc / pair-lexicographic
    tie-break — and the encoder must conserve words (every word ends
    with exactly one </w>-terminated token run)."""
    import collections

    from proglog_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents")
    merges = bpe.train_bpe(d, num_merges=8)

    wf = collections.Counter()
    for r in d.select("text").collect():
        for w in r.text.split(" "):
            if w:
                wf[w] += 1

    vocab = {w: list(w) + [bpe.END] for w in wf}
    ref = []
    for _ in range(8):
        pc = collections.Counter()
        for w, n in wf.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc or max(pc.values()) < 2:
            break
        bc = max(pc.values())
        a, b = sorted(p for p, c in pc.items() if c == bc)[0]
        ref.append((a, b))
        for w, s in vocab.items():
            i, res = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            vocab[w] = res
    assert merges == ref

    # the 2-jobs-total driver variant must emit the SAME sequence (its
    # incremental heap+index loop vs this test's full recount per step)
    assert bpe.train_bpe_driver(d, num_merges=8) == ref

    enc = bpe.encode(d.limit(20), merges).collect()
    for r in enc:
        assert r.n_tokens >= r.n_words  # every word ends with a </w> token
        # token_prefix is a SPACE-joined scalar (driver contract): the
        # first min(n_tokens, 12) tokens, each non-empty
        toks = r.token_prefix.split(" ")
        assert 0 < len(toks) <= 12
        assert len(toks) == min(r.n_tokens, 12)
        assert all(toks)


def test_bpe_driver_deep_parity_and_word_cap(spark, sf_dir):
    """Deep merge sequences (past the easy head, into tie-heavy tail
    counts) stay identical between the distributed loop and the
    driver's incremental loop; the bounded-collect cap truncates
    deterministically by (count desc, word)."""
    from proglog_spark.operators import bpe

    d = load_table(spark, sf_dir, "documents").limit(60)
    deep = 40
    assert bpe.train_bpe_driver(d, num_merges=deep) == bpe.train_bpe(
        d, num_merges=deep
    )
    # cap: training on the top-N word table is still deterministic
    a = bpe.train_bpe_driver(d, num_merges=10, max_train_words=50)
    b = bpe.train_bpe_driver(d, num_merges=10, max_train_words=50)
    assert a == b and len(a) <= 10


def test_linalg_degenerate_inputs(spark, emb):
    """Review-pinned edge behaviors: NULL vectors are SKIPPED by
    quantized_gram (matching the SQL/explode formulations), and it
    infers dim from the first non-null row."""
    from proglog_spark.operators import linalg

    with_null = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, [3.0, 4.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    q = linalg.quantized_gram(with_null)  # dim inferred as 2
    assert q.shape == (2, 2)
    assert q[0][0] == 1000 * 1000 + 3000 * 3000


def test_lm_interpolated_matches_pure_python(spark):
    """Train-and-score the interpolated trigram LM on a tiny corpus
    and compare every output against a direct Python replay of the
    integer-exact definition."""
    corpus = [
        (1, "a b c a b c"),
        (2, "a b d"),
        (3, "x y"),  # < 3 tokens: no output row
        (4, "c a b c a"),
    ]
    df = spark.createDataFrame(corpus, "doc_id LONG, text STRING")
    got = {
        r.doc_id: (r.n_trigrams, r.mean_interp_micro, r.n_singleton_trigrams)
        for r in text.lm_interpolated_scores(df).collect()
    }

    from collections import Counter

    uni, big, tri = Counter(), Counter(), Counter()
    toks = {i: t.split() for i, t in corpus}
    for ws in toks.values():
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
        tri.update(zip(ws, ws[1:], ws[2:]))
    n = sum(uni.values())
    exp = {}
    for i, ws in toks.items():
        doc_tri = Counter(zip(ws, ws[1:], ws[2:]))
        if not doc_tri:
            continue
        tot_k = sum(doc_tri.values())
        s = 0
        singletons = 0
        for (w1, w2, w3), k in doc_tri.items():
            p3 = (tri[(w1, w2, w3)] * 1000000) // big[(w1, w2)]
            p2 = (big[(w2, w3)] * 1000000) // uni[w2]
            p1 = (uni[w3] * 1000000) // n
            s += k * ((5 * p3 + 3 * p2 + 2 * p1) // 10)
            if tri[(w1, w2, w3)] == 1:
                singletons += k
        exp[i] = (tot_k, s // tot_k, singletons)
    assert got == exp
    assert 3 not in got


def test_bm25_index_query_matches_direct_path(spark, docs, tmp_path):
    """The persisted-index path must return byte-identical rankings to
    bm25_topk over the same corpus (shared integer scoring tail), and
    the pushed term filter must reach the tf scan."""
    from proglog_spark.plans import executed_plan

    queries = [(0, "hash"), (0, "join"), (1, "stream"), (1, "window")]
    idx = str(tmp_path / "bm25_idx")
    text.bm25_index_write(docs, idx)
    got = text.bm25_index_query(spark, idx, queries, k=7)
    want = text.bm25_topk(docs, queries, k=7)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = executed_plan(got)
    # the corpus TEXT is never read: every scan is an index table
    assert "text" not in plan.split("ReadSchema")[1][:200]
    assert "PushedFilters" in plan and "In(term" in plan.replace(" ", "")


def test_ivf_knn_join_finds_planted_clone(spark, emb):
    """The trained-partition kNN graph: a near-identical clone must
    land in its source's cell and rank as its top neighbor; every
    vector gets k ranked neighbors (cells are larger than k); and the
    adaptive cell rule engages (>1 cell at 500+ rows)."""
    planted = emb.where(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    df = emb.select("vec_id", "embedding").unionByName(planted)
    rows = similarity.quantized_ivf_knn_join(df, dim=64, k=3).collect()
    top = {r.src: r.dst for r in rows if r.rank == 1}
    assert top[7] == 100007 and top[100007] == 7
    n_src = len({r.src for r in rows})
    assert n_src == df.count()  # every vector has neighbors


def test_dsir_topk_ranks_target_like_docs_first(spark):
    """DSIR ordering property on a planted corpus: a raw doc written
    in the target domain's vocabulary must outscore a raw doc written
    in disjoint vocabulary (its bigrams share hash buckets with the
    target counts, so its mean likelihood ratio is strictly higher),
    and every score is positive-integer micro."""
    from proglog_spark.operators.text import dsir_topk

    target_text = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    rows = [
        (i, target_text, "en") for i in range(10)  # the target domain
    ] + [
        (100, "alpha beta gamma delta alpha beta", "zh"),  # target-like raw
        (101, "omega psi chi phi omega psi chi phi", "zh"),  # disjoint raw
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    out = {
        r.doc_id: r.dsir_micro
        for r in dsir_topk(df, F.col("lang") == "en", k=100).collect()
    }
    assert out[100] > out[101]
    assert all(v > 0 for v in out.values())
    # target-domain docs themselves score at least as high as the
    # target-like raw doc (identical feature distribution)
    assert out[0] >= out[100]


def test_ann_recall_gate_invariants(spark, sf_dir):
    """The recall audit's internal consistency: exact side always
    finds a full top-10 (fixtures have >> 10 vectors), hits can never
    exceed it, and recall_pct is the exact integer ratio."""
    from proglog_spark.queries import REGISTRY

    rows = REGISTRY["emb_ann_recall_gate"][0](spark, sf_dir).collect()
    assert len(rows) == 16
    for r in rows:
        assert r.n_exact == 10
        assert 0 <= r.n_hits <= r.n_exact
        assert r.recall_pct == r.n_hits * 100 // r.n_exact


def test_truncated_dim_overlap_full_dim_is_identity(spark, sf_dir):
    """Slicing to the full 64 dims must reproduce the full-dim top-1
    exactly (the audit's control arm), and the declared query's
    is_same column must equal (top1_trunc == top1_full) row-wise."""
    from proglog_spark.queries import REGISTRY
    from proglog_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < 16)
    full = similarity.quantized_cosine_topk(e, q, k=1)
    sliced = similarity.quantized_cosine_topk(
        e.select("vec_id", F.slice("embedding", 1, 64).alias("embedding")),
        q.select("vec_id", F.slice("embedding", 1, 64).alias("embedding")),
        k=1,
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, sliced.collect()))

    for r in REGISTRY["emb_truncated_dim_overlap"][0](spark, sf_dir).collect():
        assert r.dim in (8, 16, 32)
        assert r.is_same == (r.top1_trunc == r.top1_full)


def test_dsir_persisted_model_matches_direct_path(spark, docs, tmp_path):
    """The persisted-model scorer must reproduce the in-session
    dsir_topk exactly (same feature hash, same integer tail), and
    scoring a DISJOINT new corpus against the frozen model works
    without re-reading the training corpus."""
    from proglog_spark.operators.text import (
        dsir_model_score,
        dsir_model_write,
        dsir_topk,
    )

    tgt = F.col("lang") == "en"
    path = str(tmp_path / "dsir")
    dsir_model_write(docs, tgt, path)

    direct = dsir_topk(docs, tgt, k=50).collect()
    via_model = dsir_model_score(spark, path, docs, k=50).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in via_model]

    # frozen model scores unseen docs (ids disjoint from training)
    new = spark.createDataFrame(
        [(10_001, "alpha beta gamma"), (10_002, "x")],
        "doc_id LONG, text STRING",
    )
    scored = {r.doc_id: r for r in dsir_model_score(spark, path, new).collect()}
    assert 10_001 in scored and scored[10_001].n_feats == 2
    assert 10_002 not in scored  # <2 words: no bigram features


def test_sq8_encode_matches_numpy_model(spark, emb):
    """sq8_encode's codes and dequantizations equal the pure-numpy
    model of the documented rule (floor(x*1000) grid, per-dim corpus
    min/max, clamp+floor-division codes, *255-scaled reconstruction)
    on every fixture vector — including constant-range dims (code 0,
    reconstruct the constant)."""
    import numpy as np

    mm = similarity.sq8_train(emb, dim=64)
    out = similarity.sq8_encode(emb, mm).collect()
    vecs = {
        r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64) * 1000).astype(
            np.int64
        )
        for r in emb.collect()
    }
    grid = np.stack(list(vecs.values()))
    mn, mx = grid.min(axis=0), grid.max(axis=0)
    rng = mx - mn
    for r in out:
        x = vecs[r.vec_id]
        want_code = np.where(
            rng == 0, 0, np.clip((x - mn) * 255 // np.where(rng == 0, 1, rng), 0, 255)
        )
        want_dq = mn * 255 + want_code * rng
        assert list(r.code) == want_code.tolist()
        assert list(r.dq) == want_dq.tolist()


def test_sq8_ann_recall_and_determinism(spark, emb):
    """SQ8 reconstruction-dot top-10 must recover most of the exact
    dot top-10 (256 levels per dim is a mild quantizer; floor 0.8),
    rank densely, and be bit-identical across runs."""
    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.quantized_dot_topk(emb, qs, k=10).collect()
    }
    rows = similarity.quantized_sq8_ann_topk(emb, qs, dim=64, k=10).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"SQ8 recall too low: {recall}"
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, 11))
    again = similarity.quantized_sq8_ann_topk(emb, qs, dim=64, k=10).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_sq8_constant_dim_and_out_of_range_query(spark):
    """A constant dimension codes to 0 and reconstructs exactly; a
    query component OUTSIDE the trained corpus range clamps to the
    nearest level instead of wrapping or erroring (the library
    contract for encoding new data against a persisted grid)."""
    corpus = spark.createDataFrame(
        [(1, [0.5, 0.1]), (2, [0.5, 0.9])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    mm = similarity.sq8_train(corpus, dim=2)
    enc = {
        r.vec_id: (list(r.code), list(r.dq))
        for r in similarity.sq8_encode(corpus, mm).collect()
    }
    assert enc[1][0][0] == 0 and enc[2][0][0] == 0       # constant dim
    assert enc[1][1][0] == 500 * 255 == enc[2][1][0]     # exact constant
    assert enc[1][0][1] == 0 and enc[2][0][1] == 255     # full-range ends
    newbie = spark.createDataFrame(
        [(9, [2.0, -3.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    (r9,) = similarity.sq8_encode(newbie, mm).collect()
    assert list(r9.code) == [0, 0]    # constant dim -> 0; below-min clamps
    n2 = spark.createDataFrame(
        [(8, [0.5, 99.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    (r8,) = similarity.sq8_encode(n2, mm).collect()
    assert list(r8.code) == [0, 255]  # above-max clamps to the top level


def test_sq8_index_roundtrip_matches_direct(spark, emb, tmp_path):
    """The frozen SQ8 index answers bit-identically to the in-session
    path (stored codes + stored grid vs train+encode+score in one
    plan), and the persisted artifacts have the documented shapes:
    one meta row with 64-dim grids, one code row per vector."""
    qs = emb.where(F.col("vec_id").isin(0, 1, 2))
    path = str(tmp_path / "sq8idx")
    similarity.sq8_index_write(emb, path, dim=64)
    direct = sorted(
        map(tuple, similarity.quantized_sq8_ann_topk(emb, qs, dim=64, k=10).collect())
    )
    frozen = sorted(
        map(tuple, similarity.sq8_index_topk(spark, path, qs, k=10).collect())
    )
    assert frozen == direct
    meta = spark.read.parquet(f"{path}/meta").collect()
    assert len(meta) == 1
    assert len(meta[0]._mn) == 64 and len(meta[0]._mx) == 64
    assert (meta[0]._scale, meta[0]._levels) == (1000, 256)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count()
    assert set(codes.columns) == {"vec_id", "code"}
    # explicit grid params are consistency ASSERTIONS: a mismatching
    # caller fails loudly instead of dequantizing on the wrong grid
    with pytest.raises(ValueError, match="scale"):
        similarity.sq8_index_topk(spark, path, qs, k=10, scale=500)
    with pytest.raises(ValueError, match="levels"):
        similarity.sq8_index_topk(spark, path, qs, k=10, levels=16)


def test_simhash_decontamination_drops_planted_neardup(spark):
    """The fuzzy-decontamination ledger's POSITIVE path, pinned with a
    planted pair (the sf0.01 fixture has no cross-side near-dups, so
    the driver gate alone would never exercise a drop): a training doc
    that is a one-word edit of a benchmark doc (id % 97 == 0) is
    dropped; an unrelated doc is kept."""
    from proglog_spark.queries import REGISTRY
    import tempfile

    base = " ".join(f"tok{i}" for i in range(120))
    edited = base + " extra"                # measured hamming 1
    rows = [
        (0, base, "s", len(base)),          # benchmark (0 % 97 == 0)
        (1, edited, "s", len(edited)),      # train near-dup -> dropped
        (2, " ".join(f"zz{i}" for i in range(120)), "s", 1),  # kept
    ]
    d = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING, n_chars LONG"
    )
    with tempfile.TemporaryDirectory() as td:
        d.write.parquet(f"{td}/documents.parquet")
        out = {
            r.doc_id: r.is_kept
            for r in REGISTRY["docs_simhash_decontamination"][0](
                spark, td
            ).collect()
        }
    assert out == {1: False, 2: True}  # benchmark rows are not in the ledger
