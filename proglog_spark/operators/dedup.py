"""Deduplication operators — exact and near-duplicate.

The reference's dead Replicator duplicates records on rejoin
(internal/log/replicator.go:43-87, SURVEY.md O32) — the motif that
motivates dedup as a first-class extension. These operators target
the LLM-training-data use case on the ``documents`` table.

Scale design notes (100 TB posture):

- ``exact_duplicates``: hash-partitioned GROUP BY on md5(text) — one
  shuffle of (hash, id), never of full text.
- ``jaccard_pairs``: *complete* candidate generation via an inverted
  shingle index (any pair with Jaccard > 0 shares ≥1 shingle), then
  exact verification. Complete blocking is what lets the result
  hash-match an all-pairs oracle. Stop-shingle capping (drop shingles
  with document frequency > ``max_shingle_df``) bounds the quadratic
  bucket blow-up; with the cap disabled (None) results are exact.
- ``minhash_lsh_pairs``: the sub-quadratic scale path — signature
  matrix + banded LSH. Probabilistic recall, so it is property-tested
  against ``jaccard_pairs`` rather than oracle-hashed (FIXTURES §3.5).
- ``simhash``: 64-bit (two 32-bit words) per-doc sketch; Hamming
  proximity ⇒ near-duplication. md5-derived bits, oracle-checkable.

Cache note: operators that feed one computed table into multiple join
sides ``.cache()`` it (shingle sets, signatures, sketches, bucket
tables). Caches are session-scoped and LRU-evicted (MEMORY_AND_DISK)
— callers running many operator invocations in one long session can
reclaim eagerly via ``spark.catalog.clearCache()``; per-call eager
unpersist is impossible while the returned DataFrame's lineage is
still lazy.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from proglog_spark.operators.pairs import blocked_pairs, cap_hubs, join_payload
from proglog_spark.sources.tables import fan_out

MERSENNE31 = 2147483647


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents (md5 content hash).

    Returns (content_hash, keeper, n_dupes) for groups with >1 member;
    ``keeper`` = min id (the canonical survivor).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).cast("long").alias("keeper"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .where(F.col("n_dupes") > 1)
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingle set per document:
    (id, sh_arr array<string>, n_sh).

    Shingle construction (join with '_') matches the oracle SQL
    byte-for-byte so set cardinalities agree exactly.
    """
    toks = F.split(F.col(text_col), " ")
    # F.get is 0-indexed and NULL-safe out of bounds (ANSI-safe, unlike
    # element_at); concat_ws drops NULLs, matching the oracle's
    # concat_ws over out-of-range list indexes.
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws("_", *[F.get(toks, (i + F.lit(j)).cast("int")) for j in range(n)]),
    )
    df = fan_out(df)
    return df.select(
        F.col(id_col).alias("id"), F.array_distinct(grams).alias("sh_arr")
    ).withColumn("n_sh", F.size("sh_arr").cast("long"))


def _shared_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_df: int | None
) -> DataFrame:
    """(id_a, id_b, n_a, n_b, n_common) for every unordered pair
    sharing a shingle: the inverted-index blocking under
    :func:`jaccard_pairs` and :func:`containment_pairs`. With
    ``max_shingle_df`` set, shingles in more documents are dropped and
    the set sizes recomputed over the capped sets."""
    # cache: both join sides read the compact shingle arrays once
    # (lifecycle = the module Cache note: session-scoped, LRU-evicted)
    ss = shingle_sets(df, id_col, text_col, n).cache()
    # join key = xxhash64(shingle): 8-byte keys through the shuffle
    # instead of n-word strings. Set algebra is unchanged unless two
    # distinct shingles in overlapping docs collide (p ~ |S|^2 / 2^65
    # — negligible at any realistic vocabulary).
    sh = ss.select("id", F.col("n_sh").alias("n"), F.explode("sh_arr").alias("sh_str")).select(
        "id", "n", F.xxhash64("sh_str").alias("shingle")
    )
    if max_shingle_df is not None:
        sh = cap_hubs(sh, ["shingle"], "id", max_shingle_df, "n")
    return (
        blocked_pairs(sh, ["shingle"], carry=["n"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 200000,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via inverted index.

    Output: (id_a, id_b, n_common, n_a, n_b, jaccard_micro) for pairs
    with Jaccard >= threshold_micro/1e6, id_a < id_b.

    Candidate generation is an equi-join on the shingle (shuffle keyed
    by shingle — skew governed by ``max_shingle_df`` stop-shingle
    capping and AQE skew splitting); verification is a pure
    aggregation. Set sizes ride along with the exploded rows (one
    extra LONG per row) so no size-lookup joins exist — the whole
    operator is scan → explode → one self-join → one aggregation.
    The compact per-doc array form is cached (not the exploded rows:
    ~n× smaller) so tokenize/distinct runs once, not per join side.
    """
    common = _shared_shingles(df, id_col, text_col, n, max_shingle_df)
    return (
        common.withColumn(
            "jaccard_micro",
            F.floor(
                F.lit(1000000.0)
                * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("long"),
        )
        .where(F.col("jaccard_micro") >= threshold_micro)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard_micro")
        # the verified pair list is tiny (duplicates only) but costs a
        # full shingle self-join; cache it so downstream consumers —
        # cluster resolution, keeper selection — reuse it in-session
        .cache()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 500000,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directed shingle-containment near-dup pairs (Broder containment).

    C(A→B) = |A ∩ B| / |A| — how much of document A's shingle set is
    covered by B. Unlike Jaccard resemblance, containment is
    *asymmetric*: it catches sub/superset relationships that Jaccard
    misses entirely (a page quoted inside a 100× longer page has
    Jaccard ≈ 0.01 but containment ≈ 1.0). That is the signal a
    training-data pipeline needs to drop boilerplate-wrapped copies
    and quote-expansions the resemblance tier keeps.

    Output: (id_a, id_b, n_common, n_a, n_b, containment_micro) for
    DIRECTED pairs id_a != id_b with
    floor(1e6 · |A∩B| / |A|) >= threshold_micro.

    Plan shape: same complete inverted-index blocking as
    :func:`jaccard_pairs` — any pair with containment > 0 shares a
    shingle, so an equi-join on xxhash64(shingle) generates every
    candidate exactly once per common shingle, and one aggregation
    verifies. The join emits each UNDIRECTED pair once (id_a < id_b);
    both directed rows derive from that single aggregate, so the
    asymmetry costs a union of the verified (tiny) pair list, not a
    second self-join. Stop-shingle capping and AQE skew-split govern
    hot shingles exactly as in the Jaccard tier; MinHash containment
    estimation (|A∩B| ≈ jaccard-from-signatures rescaled by n_a) is
    the documented sub-quadratic path when even blocked candidate
    generation is too wide.
    """
    common = (
        _shared_shingles(df, id_col, text_col, n, max_shingle_df)
        # cache: the verified undirected pairs feed BOTH directed rows
        # (union below) — tiny table, full shingle self-join to build
        .cache()
    )
    directed = common.unionByName(
        common.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            F.col("n_b").alias("n_a"),
            F.col("n_a").alias("n_b"),
            "n_common",
        )
    )
    return (
        directed.withColumn(
            "containment_micro",
            F.floor(F.lit(1000000.0) * F.col("n_common") / F.col("n_a")).cast(
                "long"
            ),
        )
        .where(F.col("containment_micro") >= threshold_micro)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment_micro")
    )


def minhash_coeffs(num_hashes: int = 64) -> list[tuple[int, int]]:
    """The fixed (a_i, b_i) universal-hash constants for
    :func:`minhash_signatures` — exposed so oracle SQL can replay the
    exact same hash family engine-side (seeded stream, deterministic
    across runs and processes)."""
    import random

    rnd = random.Random(42)
    return [
        (rnd.randrange(1, MERSENNE31), rnd.randrange(0, MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per document: (id, sig array<long>[num_hashes]).

    Universal-hash family over the 32-bit shingle hash:
    h_i(x) = (a_i * x + b_i) mod 2^31-1, with (a_i, b_i) fixed
    pseudo-random constants (deterministic across runs).

    Like simhash, a signature is a pure per-document function — one
    Arrow-batched Pandas UDF, ZERO shuffle (the earlier formulation
    exploded shingles and ran 64 min-aggregates through a hash
    exchange). Shingle + hash semantics are bit-identical to the JVM
    path: '_'-joined word n-grams (concat_ws drops the nulls that
    short docs produce — Python's short-slice join matches), md5's
    first 32 bits as the base hash; duplicate shingles can't change a
    min, so distinctness is free.
    """
    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.uint64)  # (H,)
    B = np.array([b for _, b in coeffs], dtype=np.uint64)
    M = np.uint64(MERSENNE31)

    @F.pandas_udf("array<long>")
    def _sigs(texts: pd.Series) -> pd.Series:
        # NULL text propagates as a NULL signature (the JVM-side
        # operators' behavior) instead of crashing the Arrow batch
        null_mask = [t is None for t in texts]
        gram_lists = []
        for text in texts:
            toks = ("" if text is None else text).split(" ")
            gram_lists.append(
                ["_".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]
            )
        counts = np.array([len(g) for g in gram_lists], dtype=np.int64)
        digests = b"".join(
            hashlib.md5(g.encode("utf-8")).digest() for grams in gram_lists for g in grams
        )
        h = (
            np.frombuffer(digests, dtype=np.uint8)
            .reshape(-1, 16)[:, :4]
            .copy()
            .view(">u4")
            .astype(np.uint64)
            .ravel()
        )  # (total_grams,) == int(md5hex[:8], 16)
        hashed = (h[:, None] * A + B) % M  # (total_grams, H) — fits u64: < 2^63
        starts = np.cumsum(counts) - counts
        mins = np.minimum.reduceat(hashed, starts, axis=0).astype(np.int64)
        return pd.Series(
            [None if isnull else sig for isnull, sig in zip(null_mask, mins)]
        )

    return fan_out(df).select(
        F.col(id_col).alias("id"), _sigs(F.col(text_col)).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold_micro: int = 200000,
) -> DataFrame:
    """Near-duplicate candidates via banded MinHash LSH.

    num_hashes/bands rows per band; docs colliding in any band are
    candidates; estimated Jaccard = fraction of matching signature
    positions. Sub-quadratic: the only join is on (band, band_hash) —
    this is the 100 TB path, with ``jaccard_pairs`` as its exact
    verifier at test scale.
    """
    if num_hashes % bands != 0:
        # explicit raise (assert strips under python -O and would
        # silently band only a prefix of the signature)
        raise ValueError(f"num_hashes ({num_hashes}) must divide into bands ({bands})")
    rows_per_band = num_hashes // bands
    # cache: signatures feed the band build AND the verify join-back
    # (lifecycle = the module Cache note: session-scoped, LRU-evicted)
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes).cache()
    # narrow band table: (id, band, band_hash) only — the 64-element
    # signature arrays never travel through the self-join; they join
    # back for the deduped candidate pairs (few) during verification
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", i * rows_per_band + j + 1)
                                for j in range(rows_per_band)
                            ],
                        )
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
        # cache: both sides of the candidate self-join scan this band
        # table (module Cache note lifecycle)
    ).cache()
    candidates = join_payload(
        blocked_pairs(banded, ["band", "band_hash"], multi_key=True), sigs
    )
    est = F.floor(
        F.lit(1000000.0)
        * F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(num_hashes)
    ).cast("long")
    return (
        candidates.withColumn("est_jaccard_micro", est)
        .where(F.col("est_jaccard_micro") >= threshold_micro)
        .select("id_a", "id_b", "est_jaccard_micro")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as two 32-bit words (lo from md5[1:8], hi from
    md5[9:16] of each token).

    Classic per-bit majority vote: bit b of the sketch is 1 iff more
    tokens have bit b set than clear. Multiset semantics (repeated
    tokens vote repeatedly). Emitted as two LONG words to stay inside
    oracle-safe integer ranges.

    SimHash is a pure per-document function, so it runs as one
    Arrow-batched scalar Pandas UDF: tokenize, hash, and majority-vote
    inside a numpy batch — ZERO shuffle at any scale (the earlier
    explode-per-bit formulation shuffled tokens x 64 rows). Token
    hashing matches the JVM/oracle definition exactly: the two 32-bit
    halves of md5(token), split on a literal space with empty tokens
    kept (Python str.split(' ') == Spark split(col, ' ')).
    """
    shifts = np.arange(32, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    @F.pandas_udf("struct<simhash_lo: long, simhash_hi: long>")
    def _simhash(texts: pd.Series) -> pd.DataFrame:
        # NULL text -> NULL sketch words, not an Arrow-batch crash
        null_mask = np.array([t is None for t in texts])
        tok_lists = [("" if t is None else t).split(" ") for t in texts]
        counts = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
        digests = b"".join(
            hashlib.md5(tok.encode("utf-8")).digest()
            for toks in tok_lists
            for tok in toks
        )
        # bytes 0-3 / 4-7 big-endian == int(hexdigest[:8],16) / [8:16]
        h = (
            np.frombuffer(digests, dtype=np.uint8)
            .reshape(-1, 16)[:, :8]
            .copy()
            .view(">u4")
            .astype(np.uint64)
        )  # (ntok, 2): lo, hi
        votes = 2 * ((h[:, :, None] >> shifts) & np.uint64(1)).astype(np.int32) - 1
        starts = np.cumsum(counts) - counts  # every doc has >=1 token
        sums = np.add.reduceat(votes, starts, axis=0)  # (ndoc, 2, 32)
        words = ((sums > 0) * weights).sum(axis=2)  # (ndoc, 2)
        return pd.DataFrame(
            {
                "simhash_lo": pd.Series(words[:, 0]).astype("Int64").mask(null_mask),
                "simhash_hi": pd.Series(words[:, 1]).astype("Int64").mask(null_mask),
            }
        )

    return fan_out(df).select(
        F.col(id_col).alias("id"), _simhash(F.col(text_col)).alias("s")
    ).select("id", "s.simhash_lo", "s.simhash_hi")


def hamming_pairs(
    sketches: DataFrame, max_hamming: int = 3, blocks: int = 4,
    other: DataFrame | None = None,
) -> DataFrame:
    """Pairs of docs whose 64-bit simhash differs in <= max_hamming bits.

    Pigeonhole blocking: split the 64 bits into ``blocks`` equal
    blocks; any pair within distance d must agree on at least one
    whole block when blocks >= d + 1 (enforced), so candidate
    generation is COMPLETE for the declared radius. Candidates join
    on (block_idx, block_value). blocks=4 x 16 bits at d<=3 is the
    classic simhash operating point (larger radii need more blocks
    and coarser, hotter buckets — the standard recall/cost dial).

    Self mode (``other=None``): all unordered pairs within
    ``sketches`` (id_a < id_b). TWO-SIDED mode (``other`` given):
    pairs (id_a from ``sketches``, id_b from ``other``) — the
    incremental-dedup shape, where a new drop blocks against a
    persisted fingerprint index WITHOUT the index ever joining
    against itself (at a 10^10-row index, index x index candidates
    would dominate every drop).

    The sketch words RIDE the block explode (r12, guide §2.4): the
    exploded rows carry (id, lo, hi) so candidates verify inline on
    the block join's output and the two per-side verify join-backs —
    two extra shuffles of the candidate table plus two re-reads of
    the sketch tables — disappear. A pair colliding in several blocks
    is verified once per collision before the dedup; that re-costs a
    couple of bit_counts per duplicate candidate, while the dedup
    shuffle now carries only VERIFIED pairs (a subset of candidates).
    Results are identical: same complete candidate set, same per-pair
    hamming, dedup keyed on (id_a, id_b) either way.

    The sketch tables are cached so the (often UDF-backed) sketch pass
    runs once per call even with both explode sides reading it
    (session-scoped, LRU-evicted under pressure).
    """
    if blocks < max_hamming + 1:
        raise ValueError("completeness needs blocks >= max_hamming+1")
    if 64 % blocks != 0 or 32 % (64 // blocks) != 0:
        raise ValueError("blocks must split the 32-bit words evenly")
    bits_per = 64 // blocks
    mask = (1 << bits_per) - 1
    per_word = 32 // bits_per

    def block_val(i: int):
        word = F.col("simhash_lo") if i < per_word else F.col("simhash_hi")
        shift = (i % per_word) * bits_per
        return F.shiftright(word, shift).bitwiseAND(F.lit(mask))

    def keyed(df):
        return df.select(
            "id",
            F.col("simhash_lo").alias("lo"),
            F.col("simhash_hi").alias("hi"),
            F.posexplode(F.array(*[block_val(i) for i in range(blocks)])).alias(
                "blk", "blk_val"
            ),
        )

    ham = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).alias("hamming")
    # cache: both block-explode sides read each sketch table, so the
    # (often UDF-backed) sketch pass runs once per call (lifecycle =
    # the module Cache note: session-scoped, LRU-evicted, reclaimable
    # via spark.catalog.clearCache())
    return blocked_pairs(
        keyed(sketches.cache()),
        ["blk", "blk_val"],
        other=None if other is None else keyed(other.cache()),
        carry=["lo", "hi"],
        multi_key=True,
        verify=lambda p: p.select("id_a", "id_b", ham).where(
            F.col("hamming") <= max_hamming
        ),
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS: (id, rep) where rep
    is the minimum id reachable through any chain of pairs — the final
    step of every sketch-based dedup (keep ``rep``, drop the rest).

    Hybrid execution: the pair list is orders of magnitude smaller
    than the corpus (it holds only duplicates), so when it fits
    comfortably on the driver (< ``driver_threshold`` edges) an exact
    union-find resolves it in one pass — the FAISS-style bounded-
    driver-work pattern. Above the threshold, alternating
    large-star/small-star rounds (the MapReduce-CC formulation:
    large-star hooks every above-center neighbor to the neighborhood
    minimum, small-star re-points each node's below-or-equal
    neighborhood at its minimum) — converges in O(log n) rounds even
    for adversarially long pair-chains, where naive min-label
    propagation needs O(cluster diameter). Each round is a
    groupBy-join keyed by node id; the edge set is
    ``localCheckpoint``ed so lineage stays flat. Deterministic either
    way — oracle-checked against a recursive-CTE transitive closure
    and property-tested against the union-find path.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the documented capacity unit is PAIRS; `edges` is the
    # symmetrized union (2x the pairs), so halve it for the check and
    # walk only one direction on the driver (union(a,b) covers both)
    n_edges = edges.count()  # cheap: checkpointed
    if n_edges // 2 <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in edges.where(F.col("src") < F.col("dst")).collect():
            a, b = int(row.src), int(row.dst)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the representative is deterministic
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        # explicit slice count: the default (defaultParallelism) would
        # schedule 32 near-empty tasks for a result this small
        spark = pairs.sparkSession
        rdd = spark.sparkContext.parallelize(rows, max(1, len(rows) // 100_000))
        return spark.createDataFrame(rdd, "id LONG, rep LONG")
    # nodes that ever appear — preserved through the star rounds so
    # every input node gets a row even after its edges contract away
    nodes = edges.select(F.col("src").alias("id")).distinct().localCheckpoint(
        eager=True
    )

    def large_star(e: DataFrame) -> DataFrame:
        """Hook each neighbor v > u to m = min(N(u) ∪ {u}). The
        neighborhood is undirected, so re-symmetrize first (small-star
        hands back edges oriented toward the smaller endpoint)."""
        d = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        m = d.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return (
            d.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        """Orient each edge toward the smaller endpoint, then re-point
        every below-or-equal neighborhood at its minimum."""
        d = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
        m = d.groupBy("src").agg(F.min("dst").alias("m"))
        j = d.join(m, "src")
        relinked = j.where(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        anchors = j.select("src", F.col("m").alias("dst"))
        return relinked.unionByName(anchors).distinct()

    converged = False
    star = edges
    prev_sig = None
    for _ in range(max_iterations):
        star = small_star(large_star(star)).localCheckpoint(eager=True)
        # single-job fingerprint of the edge multiset — stable set ⇒
        # the graph is a forest of min-centered stars, i.e. done
        sig = tuple(
            star.agg(
                F.count(F.lit(1)),
                # decimal sum: a long sum of 64-bit hashes overflows
                # under ANSI arithmetic
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
                F.min("dst"),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # returning a half-contracted graph would silently split
        # clusters into several representatives
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "large/small-star rounds"
        )
    # at fixpoint every edge points node -> component minimum; nodes
    # with no outgoing edge are their own representative (centers)
    reps = star.groupBy("src").agg(F.min("dst").alias("rep"))
    return (
        nodes.join(reps, nodes.id == reps.src, "left")
        .select("id", F.coalesce("rep", "id").alias("rep"))
    )
