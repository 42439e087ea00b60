"""Similarity search over embedding columns (array<float>).

Three tiers, all shuffle-minimal:

- ``brute_force_topk`` — exact float cosine top-k: broadcast the
  query vectors, one corpus pass, per-query rank pushdown. The recall
  truth the ANN tests measure against.
- ``quantized_dot_topk`` / ``quantized_cosine_topk`` — the same plan
  shape on the floor(x·scale) integer grid (exact arithmetic, so the
  oracle can hash-compare it).
- ``quantized_lsh_ann_topk`` — multi-table random-hyperplane LSH: T
  independent tables of b sign-bits each; a neighbor with per-bit
  agreement p is recalled with 1-(1-p^b)^T. The 100 TB path: the
  corpus pass scores only bucket-colliding candidates, and bucketing
  itself is one narrow projection. ``quantized_ivf_ann_topk`` swaps
  the hash for integer k-means cells.

Hyperplanes are deterministic: component d of plane p is ±1 by a bit
of md5 — no RNG state, stable across sessions. Both candidate
selection and ranking run on the integer grid, which puts the
exact-cosine and ANN queries inside the hash-compared oracle gate.

Parameter note: the driver's synthetic embeddings are near-random
(top-10 neighbors at cosine 0.25-0.4 ⇒ per-bit p ≈ 0.58-0.63), which
is the hard regime for sign-LSH — defaults (b=4, T=8) are tuned for
≥0.5 recall there; clustered real-world corpora sit much higher.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from proglog_spark.functions.vectors import cosine_similarity, quantized_dot
from proglog_spark.operators.pairs import blocked_pairs, join_payload, side_col
from proglog_spark.operators.topk import topk_per_key


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    queries is small ⇒ broadcast; the join is a broadcast nested loop
    over one corpus pass, and the window's partition key is query_id
    so the top-k shuffle moves only (ids, score) — never vectors.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            cosine_similarity(F.col(vec_col), F.col("q_vec")).alias("cosine"),
        )
    )
    return topk_per_key(
        scored, ["query_id"], [F.col("cosine").desc(), F.col(id_col)], k, rank_col="rank"
    )


def quantized_dot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Integer-exact dot-product top-k — deterministic, oracle-checked.

    Same physical shape as brute_force_topk; scores are exact BIGINTs
    so ordering (score desc, vec_id) is total across engines.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            quantized_dot(F.col(vec_col), F.col("q_vec"), scale).alias("qdot"),
        )
    )
    return topk_per_key(
        scored, ["query_id"], [F.col("qdot").desc(), F.col(id_col)], k, rank_col="rank"
    ).select("query_id", id_col, "qdot", "rank")


def quantized_cosine_key(qd: str, na: str, nb: str):
    """Integer-exact cosine sort key: ``sign(d)·(10^12·d² div (na·nb))``
    over the floor(x·scale) grid (columns ``qd`` = quantized dot,
    ``na``/``nb`` = quantized self-dots).

    Monotone in cosine (odd square preserves order; sign handles the
    negative half) and computed entirely in 128-bit decimal, so Spark
    and any ANSI engine produce the SAME BIGINT — this is what moves
    cosine ranking from "float, property-tested" into the
    hash-compared oracle set (FIXTURES §3.5's escape hatch). Division
    operands are non-negative, so trunc-vs-floor division semantics
    cannot diverge. Bounds: |d| ≤ dim·scale² ⇒ d²·10^12 < 10^38
    (decimal-exact) and the real-key range is [-10^12, 10^12] (cos² ≤ 1
    on the grid), comfortably BIGINT. A vector whose components all
    quantize to zero has no defined cosine — its key is the sentinel
    -(10^12)-1, strictly below every real key, so undefined-cosine rows
    rank LAST (below even perfectly anti-correlated pairs) and never
    hit DIVIDE_BY_ZERO under Spark 4's default ANSI mode. The oracle
    SQL replays in queries.py inline the same sentinel.
    """
    return F.expr(
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN CAST(-1000000000001 AS BIGINT) ELSE "
        f"CAST(CASE WHEN {qd} < 0 THEN -1 ELSE 1 END * "
        f"(CAST({qd} AS DECIMAL(38,0)) * {qd} * 1000000000000 div "
        f"(CAST({na} AS DECIMAL(38,0)) * {nb})) AS BIGINT) END"
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Exact cosine top-k with a deterministic integer ranking key —
    (query_id, vec_id, cos2_pico, rank).

    Same physical plan as brute_force_topk (broadcast queries, one
    corpus pass, per-query top-k on ids+score only); the score is
    :func:`quantized_cosine_key`, so results hash-match a SQL oracle.
    Ties inside one pico bucket break on vec_id in every engine.
    """
    # self-dots hoisted OUT of the cross join: na is computed once per
    # corpus row and nb once per query, not once per (corpus x query)
    # pair — the pair stage evaluates one dim-length aggregate, not 3
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            quantized_dot(F.col(vec_col), F.col(vec_col), scale).alias("nb"),
        )
    )
    c = corpus.select(
        id_col,
        vec_col,
        quantized_dot(F.col(vec_col), F.col(vec_col), scale).alias("na"),
    )
    scored = (
        c.crossJoin(q)
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            quantized_dot(F.col(vec_col), F.col("q_vec"), scale).alias("qd"),
            "na",
            "nb",
        )
        .select(
            "query_id",
            id_col,
            quantized_cosine_key("qd", "na", "nb").alias("cos2_pico"),
        )
    )
    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("cos2_pico").desc(), F.col(id_col)],
        k,
        rank_col="rank",
    ).select("query_id", id_col, "cos2_pico", "rank")


def hyperplane_signs(dim: int, planes: int, salt: str = "plane") -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 bits (no RNG state)."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{salt}:{p}:{d}".encode()).digest()
            row.append(1 if h[0] & 1 else -1)
        out.append(row)
    return out


def with_quantized_lsh_buckets(
    df: DataFrame,
    dim: int,
    bits: int = 4,
    tables: int = 8,
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Append (lsh_table, lsh_bucket): one output row per hash table.

    Table t's bucket is the b-bit sign pattern of the vector against
    that table's hyperplanes. ``tables`` is the recall knob, ``bits``
    the selectivity knob. All bits*tables dot products are one
    Arrow-batched numpy matmul (rows x dim) @ (dim x bits*tables) per
    batch — one vectorized pass instead of bits*tables codegen'd
    array-aggregate expressions per row. The ±1 plane matrix is tiny
    and closure-shipped; buckets are deterministic (each output
    element is an independent row-dot, no batch-dependent reduction).

    The sign test runs on the floor(x·scale) int64 grid — exact
    integer arithmetic, bit-identical in numpy, Spark SQL, and any
    ANSI engine, which is what lets a SQL oracle replay the bucketing
    (and with it an ANN query's whole candidate set).
    """
    from pyspark.sql import types as T

    n_bits, n_tables = bits, tables
    q = float(scale)
    planes = np.array(hyperplane_signs(dim, bits * tables), dtype=np.int64).T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        from proglog_spark.operators.linalg import (
            masked_vector_rows,
            scatter_masked,
        )

        # NULL vectors bucket to NULL (posexplode then drops the row —
        # a null embedding simply never enters the LSH join), instead
        # of an opaque np.stack TypeError killing the job
        mask, mat = masked_vector_rows(vecs)
        buckets = []
        if mat.size:
            qmat = np.floor(mat * q).astype(np.int64)  # quantized_dot grid
            signs = (qmat @ planes) >= 0  # exact: int64 matmul
            weights = np.tile(1 << np.arange(n_bits, dtype=np.int64), n_tables)
            per_bit = signs * weights  # (rows, bits*tables)
            buckets = list(per_bit.reshape(len(mat), n_tables, n_bits).sum(axis=2))
        return pd.Series(list(scatter_masked(mask, buckets)))

    return df.select(
        "*", F.posexplode(_buckets(F.col(vec_col))).alias("lsh_table", "lsh_bucket")
    )


def quantized_lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int | None = None,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH,
    oracle-exact end-to-end: integer-grid sign bucketing
    (`with_quantized_lsh_buckets`) picks the candidate set and
    `quantized_cosine_key` ranks it — every step deterministic BIGINT
    arithmetic, so an ANSI SQL oracle reproduces the exact approximate
    answer, candidates and all. Plan shape: narrow corpus explode,
    broadcast query buckets, candidate dedup before vectors join back.
    Output: (query_id, vec_id, cos2_pico, rank).

    ``bits=None`` (default) auto-sizes via :func:`adaptive_lsh_bits`
    (replayed by the oracle's CASE ladder): fixed bits make each
    query score n/2^bits of the corpus — a linear scan in disguise;
    adaptive bits keep per-query candidates ≈ tables·occupancy.
    """
    if bits is None:
        bits = adaptive_lsh_bits(corpus.count() if n is None else n)
    c = with_quantized_lsh_buckets(
        corpus.select(id_col, vec_col), dim, bits, tables, vec_col, scale
    ).select(id_col, "lsh_table", "lsh_bucket")
    q = with_quantized_lsh_buckets(queries, dim, bits, tables, vec_col, scale).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "lsh_table",
        "lsh_bucket",
    )
    cand = (
        c.join(
            F.broadcast(q.select("query_id", "lsh_table", "lsh_bucket")),
            on=["lsh_table", "lsh_bucket"],
        )
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .dropDuplicates(["query_id", id_col])
    )
    q_vecs = q.select("query_id", "q_vec").dropDuplicates(["query_id"]).select(
        "query_id",
        "q_vec",
        quantized_dot(F.col("q_vec"), F.col("q_vec"), scale).alias("nb"),
    )
    # na per corpus row, nb per query — hoisted out of the candidate
    # join so the per-pair stage evaluates one aggregate, not three
    scored = (
        cand.join(
            corpus.select(
                id_col,
                vec_col,
                quantized_dot(F.col(vec_col), F.col(vec_col), scale).alias("na"),
            ),
            on=id_col,
        )
        .join(F.broadcast(q_vecs), on="query_id")
        .select(
            "query_id",
            id_col,
            quantized_dot(F.col(vec_col), F.col("q_vec"), scale).alias("qd"),
            "na",
            "nb",
        )
        .select(
            "query_id",
            id_col,
            quantized_cosine_key("qd", "na", "nb").alias("cos2_pico"),
        )
    )
    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("cos2_pico").desc(), F.col(id_col)],
        k,
        rank_col="rank",
    ).select("query_id", id_col, "cos2_pico", "rank")


def sq8_encode(
    vectors: DataFrame,
    minmax: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    levels: int = 256,
) -> DataFrame:
    """Scalar (SQ8-style) quantization of float vectors to per-dim
    uint8 codes on the shared floor(x·scale) integer grid: code[i] =
    clamp(((xi - mn[i]) · (levels-1)) div (mx[i] - mn[i]), 0,
    levels-1), where (mn, mx) are the per-dimension corpus bounds in
    ``minmax`` (one broadcast row from :func:`sq8_train`). Output is
    (id, code ARRAY<BIGINT>, dq ARRAY<BIGINT>): ``code`` is the
    64-byte artifact a deployment persists (8× smaller than float64,
    the memory-bandwidth scale path), ``dq`` the exact integer
    dequantization dq[i] = mn[i]·(levels-1) + code[i]·(mx[i]-mn[i])
    — the reconstructed component scaled by (levels-1), so ADC
    scoring stays BIGINT-exact and SQL-replayable. Constant-range
    dims (mx = mn) code to 0 and reconstruct to the constant.
    All built-in array expressions (transform with index), codegen,
    no Python, no shuffle."""
    lv = levels - 1
    qz = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("long")
    )
    # NB: SQL bracket indexing on arrays is 0-based in Spark (unlike
    # 1-based element_at), so the transform index i is used directly
    code = (
        "transform(_xq, (x, i) -> CASE WHEN _mx[i] = _mn[i] "
        "THEN CAST(0 AS BIGINT) ELSE least(greatest("
        f"((x - _mn[i]) * {lv}) div (_mx[i] - _mn[i]), "
        f"CAST(0 AS BIGINT)), CAST({lv} AS BIGINT)) END)"
    )
    return (
        vectors.select(id_col, qz.alias("_xq"))
        .crossJoin(F.broadcast(minmax))
        .select(id_col, F.expr(code).alias("code"), "_mn", "_mx")
        .select(id_col, "code", F.expr(_sq8_dq_expr(levels)).alias("dq"))
    )


def _sq8_dq_expr(levels: int = 256, code_col: str = "code") -> str:
    """The exact integer dequantization expression over a code array
    with the broadcast (_mn, _mx) grid in scope: dq[i] =
    mn[i]·(levels-1) + code[i]·(mx[i]-mn[i]) — the reconstructed
    component scaled by (levels-1)."""
    lv = levels - 1
    return f"transform({code_col}, (c, i) -> _mn[i] * {lv} + c * (_mx[i] - _mn[i]))"


def sq8_dequantize(
    codes: DataFrame,
    minmax: DataFrame,
    id_col: str = "vec_id",
    code_col: str = "code",
    levels: int = 256,
) -> DataFrame:
    """Exact integer dequantization of PERSISTED SQ8 codes against
    their training grid — the read side of the frozen-index path:
    (id, dq ARRAY<BIGINT>) ready for ADC scoring. One broadcast join
    + one array transform, codegen, no shuffle."""
    return codes.crossJoin(F.broadcast(minmax)).select(
        id_col, F.expr(_sq8_dq_expr(levels, code_col)).alias("dq")
    )


def _sq8_scored_topk(
    corpus_dq: DataFrame, queries_dq: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Shared SQ8 ADC ranking: broadcast the query reconstructions,
    one corpus pass, per-query top-k moving only (ids, score)."""
    scored = (
        corpus_dq.crossJoin(F.broadcast(queries_dq))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.aggregate(
                F.zip_with("dq", "q_dq", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("sq8_dot"),
        )
    )
    return topk_per_key(
        scored, ["query_id"], [F.col("sq8_dot").desc(), F.col(id_col)], k,
        rank_col="rank",
    ).select("query_id", id_col, "sq8_dot", "rank")


def sq8_index_write(
    corpus: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    levels: int = 256,
) -> None:
    """Persist an SQ8 index: per-vector uint8 codes (``<path>/codes``
    parquet — (levels-1 fits a byte; stored as BIGINT arrays for
    oracle parity, 64 values/vector either way) plus the one-row
    training grid (``<path>/meta`` — the per-dim (_mn, _mx) arrays).
    The train-once/score-forever family's fourth member next to the
    BM25 postings, IVF centroid, and DSIR model artifacts: at 10^10
    vectors the code table is the only corpus-scale artifact and it
    is 8× smaller than the raw floats — the scan-bandwidth story,
    persisted. The meta row is an aggregate output (single JVM
    partition) — NOT the createDataFrame().coalesce(1) trap BASELINE
    documents.

    Write order is correctness-bearing: the grid is persisted FIRST
    and the codes are encoded against the READ-BACK grid, so (a) the
    full-corpus training aggregate runs exactly once (the lazy `mm`
    plan would otherwise re-scan the corpus for each of the two
    writes), and (b) the persisted grid is the one the codes were
    encoded with even if the corpus input changes between jobs (live
    table, appended partition) — grid/code consistency is by
    construction, not by rerun luck. The grid's (scale, levels) are
    stored IN the meta row so a reader can never dequantize on the
    wrong grid."""
    mm = sq8_train(corpus, dim, vec_col, scale)
    mm.select(
        "_mn", "_mx",
        F.lit(scale).alias("_scale"), F.lit(levels).alias("_levels"),
    ).write.mode("overwrite").parquet(f"{path}/meta")
    stored = corpus.sparkSession.read.parquet(f"{path}/meta").select("_mn", "_mx")
    sq8_encode(corpus, stored, id_col, vec_col, scale, levels).select(
        id_col, "code"
    ).write.mode("overwrite").parquet(f"{path}/codes")


def sq8_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int | None = None,
    levels: int | None = None,
) -> DataFrame:
    """Answer SQ8 top-k from the FROZEN index: stored codes are
    dequantized against the STORED grid (the corpus floats are never
    re-read), incoming query vectors are encoded with that same grid,
    and ranking is the shared ADC scorer — bit-identical to
    :func:`quantized_sq8_ann_topk` run in-session, which is exactly
    what the gate asserts (index staleness, a lost code row, or grid
    drift all fail the hash).

    ``scale``/``levels`` default to the values PERSISTED in the meta
    row (the only correct choice — a reader quantizing queries on a
    different grid than the stored bounds were trained on gets
    silently wrong rankings); passing them explicitly is a
    consistency ASSERTION that raises on mismatch rather than
    proceeding wrong."""
    meta = spark.read.parquet(f"{path}/meta")
    (mrow,) = meta.select("_scale", "_levels").collect()
    if scale is not None and scale != mrow._scale:
        raise ValueError(
            f"sq8 index at {path} was trained with scale={mrow._scale}, "
            f"caller asked for scale={scale}"
        )
    if levels is not None and levels != mrow._levels:
        raise ValueError(
            f"sq8 index at {path} was written with levels={mrow._levels}, "
            f"caller asked for levels={levels}"
        )
    scale, levels = int(mrow._scale), int(mrow._levels)
    mm = meta.select("_mn", "_mx")
    codes = spark.read.parquet(f"{path}/codes")
    c_dq = sq8_dequantize(codes, mm, id_col=id_col, levels=levels)
    q_dq = sq8_encode(queries, mm, id_col, vec_col, scale, levels).select(
        F.col(id_col).alias("query_id"), F.col("dq").alias("q_dq")
    )
    return _sq8_scored_topk(c_dq, q_dq, k, id_col)


def sq8_train(
    corpus: DataFrame, dim: int, vec_col: str = "embedding", scale: int = 1000
) -> DataFrame:
    """Per-dimension (min, max) bounds of the corpus on the
    floor(x·scale) grid — SQ8's entire 'training': one
    partial-aggregated reduce to a single (_mn ARRAY, _mx ARRAY) row,
    broadcast into :func:`sq8_encode`. At any corpus size this is a
    map-side-combined scan; nothing is collected to the driver."""
    qz = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("long")
    )
    xq = corpus.select(qz.alias("_xq"))
    return xq.agg(
        F.array(*[F.min(F.element_at("_xq", i + 1)) for i in range(dim)]).alias("_mn"),
        F.array(*[F.max(F.element_at("_xq", i + 1)) for i in range(dim)]).alias("_mx"),
    )


def quantized_sq8_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    levels: int = 256,
) -> DataFrame:
    """Scalar-quantized (SQ8) brute-force top-k — the fourth ANN
    family next to LSH / IVF / PQ: per-dim uint8 codes (8× memory
    compression; at serving scale the scan is memory-bandwidth-bound,
    so 8× smaller codes ≈ 8× faster exhaustive scan), scored by the
    exact integer dot of the DEQUANTIZED reconstructions (asymmetric
    'ADC with reconstruction' — rank-faithful where raw code·code
    dots are not, because the affine zero-point is restored).
    Deterministic BIGINT end to end: the approximation (quantization
    loss) is reproduced bit-for-bit by an ANSI SQL oracle. Bounds:
    |dq| ≤ scale·(levels-1) = 255 000, so a 64-dim dot ≤ 4.2e12 —
    comfortably BIGINT.

    Plan shape = the emb_dot_topk posture: one training reduce
    (broadcast single row), one encode projection per side, broadcast
    queries, one corpus pass, per-query top-k moving only (ids,
    score). Output: (query_id, vec_id, sq8_dot, rank)."""
    mm = sq8_train(corpus, dim, vec_col, scale)
    c = sq8_encode(corpus, mm, id_col, vec_col, scale, levels).select(id_col, "dq")
    q = sq8_encode(queries, mm, id_col, vec_col, scale, levels).select(
        F.col(id_col).alias("query_id"), F.col("dq").alias("q_dq")
    )
    return _sq8_scored_topk(c, q, k, id_col)


def adaptive_lsh_bits(n: int, occupancy: int = 32, lo: int = 4, hi: int = 16) -> int:
    """Selectivity auto-sizing for corpus-scale LSH self-joins: the
    smallest bits in [lo, hi] keeping expected bucket occupancy
    ≤ ``occupancy`` (n ≤ occupancy·2^bits). With FIXED bits the
    bucket self-join is quadratic in the corpus (n²/2^bits candidate
    pairs — the 10× probe measured ratio 23.6 before this); scaling
    bits with n keeps candidates ≈ tables·occupancy·n, linear. Pure
    integer ladder, replayed verbatim by the SQL oracle's CASE chain.
    """
    b = lo
    while b < hi and n > (occupancy << b):
        b += 1
    return b


# side names of an unordered pair table and of the directed kNN graph
_PAIR = ("id_a", "id_b")
_GRAPH = ("src", "dst")


def _vector_side(df: DataFrame, id_col: str, vec_col: str, scale: int, *extra) -> DataFrame:
    """Per-vector verify payload ``(id, *extra, vec, n2)``, n2 the
    quantized self-dot: computed once per vector, not once per pair."""
    n2 = quantized_dot(F.col(vec_col), F.col(vec_col), scale).alias("n2")
    return df.select(F.col(id_col).alias("id"), *extra, F.col(vec_col).alias("vec"), n2)


def _pair_dot(pairs: DataFrame, ids: tuple[str, str], scale: int) -> DataFrame:
    """``(*ids, qd, na, nb)`` — the pair dot and both self-dots — from
    a pair table holding both sides' :func:`_vector_side` columns."""
    a, b = ids
    qd = quantized_dot(F.col(side_col("vec", a)), F.col(side_col("vec", b)), scale)
    na, nb = F.col(side_col("n2", a)), F.col(side_col("n2", b))
    return pairs.select(a, b, qd.alias("qd"), na.alias("na"), nb.alias("nb"))


def _cosine_at_least(t_milli: int):
    """cos ≥ t_milli/1000 over :func:`_pair_dot`'s columns:
    d > 0 ∧ 10^6·d² ≥ t_milli²·na·nb, exact in 128-bit decimal."""
    return (F.col("qd") > 0) & F.expr(
        "CAST(qd AS DECIMAL(38,0)) * qd * 1000000 >= "
        f"CAST({t_milli * t_milli} AS DECIMAL(38,0)) * na * nb"
    )


def _knn_graph(cand, df: DataFrame, k: int, id_col: str, vec_col: str, scale: int) -> DataFrame:
    """Top ``k`` dsts per src by the integer cosine key, the vectors
    joined back once per candidate pair: both kNN-graph verify stages."""
    vecs = join_payload(cand, _vector_side(df, id_col, vec_col, scale), _GRAPH)
    scored = _pair_dot(vecs, _GRAPH, scale).select(
        "src", "dst", quantized_cosine_key("qd", "na", "nb").alias("cos2_pico")
    )
    order = [F.col("cos2_pico").desc(), F.col("dst")]
    return topk_per_key(scored, ["src"], order, k, rank_col="rank").select(
        "src", "dst", "cos2_pico", "rank"
    )


def quantized_knn_join(
    df: DataFrame,
    dim: int,
    k: int = 3,
    bits: int | None = None,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n: int | None = None,
) -> DataFrame:
    """k-NN GRAPH construction — top-k neighbors for EVERY vector:
    ``(src, dst, cos2_pico, rank)``. The all-vectors analog of
    :func:`quantized_lsh_ann_topk` (which broadcasts a small query
    set): here BOTH sides are the corpus, so candidates come from a
    bucket-keyed SELF-join of the narrow (id, table, bucket) relation
    — no broadcast, shuffle keyed on the bucket — and each vector
    ranks its own candidate list with the integer cosine key. This is
    the batch kNN-graph stage SemDeDup/graph-based curation pipelines
    start from; integer-grid bucketing + integer ranking keep the
    whole approximate graph oracle-replayable. Vectors sharing no
    bucket with any other vector emit no row (both engines agree).

    ``bits=None`` (default) auto-sizes selectivity to the corpus via
    :func:`adaptive_lsh_bits` — the knob that keeps the self-join
    linear instead of quadratic as the corpus grows.
    """
    if bits is None:
        # auto-sizing needs the corpus cardinality; pass ``n`` when the
        # caller already knows it to keep construction lazy (otherwise
        # this runs one count job before the plan exists)
        bits = adaptive_lsh_bits(df.count() if n is None else n)
    c = (
        with_quantized_lsh_buckets(
            df.select(id_col, vec_col), dim, bits, tables, vec_col, scale
        )
        .select(id_col, "lsh_table", "lsh_bucket")
        # both self-join sides read this; checkpointing (not .cache())
        # runs the bucketing UDF once and lets the ContextCleaner free
        # the blocks when the frame is collected (semantic_dedup's
        # pattern — a .cache() here leaks one copy per call)
        .localCheckpoint(eager=True)
    )
    cand = blocked_pairs(
        c, ["lsh_table", "lsh_bucket"], id_col=id_col, ids=_GRAPH,
        directed=True, multi_key=True,
    )
    return _knn_graph(cand, df, k, id_col, vec_col, scale)


def adaptive_ivf_cells(
    n: int, target_cell_rows: int = 256, lo: int = 2, hi: int = 4096
) -> int:
    """Corpus-adaptive IVF cell count: ``clamp(ceil(n / target), lo,
    hi)``. The trained-partition analog of :func:`adaptive_lsh_bits`:
    a within-cell self-join generates Σ|cell|² ≈ n·target candidate
    pairs — LINEAR — only if the cell count grows with the corpus;
    a fixed cell count is the same quadratic-in-disguise as fixed LSH
    bits. Pure integer arithmetic, replayed by the SQL oracle as
    GREATEST/LEAST over count(*)."""
    return max(lo, min(hi, -(-n // target_cell_rows)))


def quantized_ivf_knn_join(
    df: DataFrame,
    dim: int,
    k: int = 3,
    n_cells: int | None = None,
    iters: int = 2,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n: int | None = None,
    sample_rows: list | None = None,
) -> DataFrame:
    """k-NN GRAPH via TRAINED partitions — the IVF-cell twin of
    :func:`quantized_knn_join`, and the declared crossover once a
    corpus outgrows the LSH ladder (SCALING §15: hash buckets hold
    occupancy ≤ 32 to ~2M vectors; k-means cells auto-size without a
    plane-inlining budget because the oracle replays the TRAINING, not
    a plane table). Every vector lands in its nearest of
    ``adaptive_ivf_cells(n)`` spherical-k-means cells (integer Lloyd
    on the bounded sample — the quantized_ivf_ann_topk trainer), the
    self-join runs within cells only (Σ|cell|² ≈ n·target_cell_rows
    candidates, linear), and each vector ranks its candidates with the
    integer cosine key. Output: ``(src, dst, cos2_pico, rank)``.
    Neighbors split across a cell boundary are missed — the recall
    dial is ``target_cell_rows`` (recall stays property-tested; the
    candidate sets and ranking hash-match the oracle).
    """
    if n_cells is None:
        n_cells = adaptive_ivf_cells(df.count() if n is None else n)
    cents = quantized_ivf_train(
        df, n_cells, iters, sample_mod, id_col=id_col, vec_col=vec_col,
        scale=scale, sample_rows=sample_rows,
    )
    c = (
        with_quantized_ivf_cells(df.select(id_col, vec_col), cents, 1, vec_col, scale)
        .select(id_col, "ivf_cell")
        # both self-join sides read this; eager checkpoint runs the
        # assignment UDF once and lets the ContextCleaner free the
        # blocks (the quantized_knn_join idiom — never .cache())
        .localCheckpoint(eager=True)
    )
    # one cell per vector ⇒ (src, dst) pairs are already unique
    # r11 (guide §2.5 "too few distinct key values"): the candidate
    # join's only key is ivf_cell — adaptive_ivf_cells keeps cells
    # PROPORTIONAL to the corpus (n/256), so at small n the pair table
    # lands on n_cells partitions and the scoring stage serializes
    # behind a handful of tasks (measured at sf0.1: 8 cells ⇒ the
    # ~500k-pair scoring pass ran 4.7 s on ≤8 tasks vs 0.77 s spread
    # 32-wide). Re-keying the narrow (src, dst) pair table by src
    # restores full width AND pre-establishes the exact partitioning
    # the per-src top-k window needs, so its Exchange is reused
    # (plan-pinned: one hashpartitioning(src) exchange, zero
    # single-partition stages).
    cand = blocked_pairs(
        c, ["ivf_cell"], id_col=id_col, ids=_GRAPH, directed=True
    ).repartition(F.col("src"))
    return _knn_graph(cand, df, k, id_col, vec_col, scale)


def lsh_negative_sample(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int | None = None,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    salt: str = "neg",
    n: int | None = None,
) -> DataFrame:
    """Deterministic HARD-EXCLUDED negative sampling for contrastive
    training: per query, ``k`` corpus vectors chosen uniformly by key
    hash among those sharing NO LSH bucket with the query in any
    table — the false-negative guard (a bucket-sharing vector is a
    near-dup candidate, exactly what a contrastive negative must not
    be). Output: ``(query_id, vec_id, rank)``.

    Everything is hash-deterministic (integer-grid bucketing + md5
    pair hash), so the sample is reproducible across runs/partitions
    and replays in the SQL oracle. Plan shape: the bucket-collision
    exclusion set is (query, id) pairs from the bucket join; the
    candidate space is corpus-ids × queries (queries broadcast, ids
    only), anti-joined against the exclusions; ranking is the
    two-phase per-query top-k on the pair hash.

    ``bits=None`` (default) auto-sizes bucket width to the corpus via
    :func:`adaptive_lsh_bits`: with FIXED bits, a growing corpus makes
    every vector share some bucket with each query by chance, so the
    exclusion set approaches the whole corpus and the eligible
    negative pool shrinks below ``k`` — the same
    corpus-independent-bucket scaling class the kNN-join probe caught.
    The ladder keeps expected per-table collisions (the exclusion
    mass) ≈ occupancy·tables per query, corpus-size-independent.
    """
    from proglog_spark.operators.text import token_hash32

    if bits is None:
        bits = adaptive_lsh_bits(corpus.count() if n is None else n)
    c = with_quantized_lsh_buckets(
        corpus.select(id_col, vec_col), dim, bits, tables, vec_col, scale
    ).select(id_col, "lsh_table", "lsh_bucket")
    qb = with_quantized_lsh_buckets(
        queries.select(id_col, vec_col), dim, bits, tables, vec_col, scale
    ).select(F.col(id_col).alias("query_id"), "lsh_table", "lsh_bucket")
    excluded = (
        c.join(F.broadcast(qb), on=["lsh_table", "lsh_bucket"])
        .select("query_id", id_col)
        .dropDuplicates(["query_id", id_col])
    )
    space = corpus.select(id_col).crossJoin(
        F.broadcast(queries.select(F.col(id_col).alias("query_id")))
    ).where(F.col(id_col) != F.col("query_id"))
    neg = space.join(excluded, ["query_id", id_col], "left_anti").select(
        "query_id",
        id_col,
        token_hash32(
            F.concat(
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col(id_col).cast("string"),
            ),
            salt,
        ).alias("_h"),
    )
    return topk_per_key(
        neg, ["query_id"], [F.col("_h"), F.col(id_col)], k, rank_col="rank"
    ).select("query_id", id_col, "rank")


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold_milli: int = 350,
    bits: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    target_cell_rows: int = 256,
) -> DataFrame:
    """SemDeDup-style embedding-level dedup: (vec_id, cell, kept).

    The production recipe (Abbas et al., SemDeDup) clusters the
    corpus, then removes near-identical pairs WITHIN each cluster --
    the cluster bound turns the all-pairs O(n^2) into sum(|cell|^2),
    which is what survives 100 TB. Here the cell is a deterministic
    quantized-hyperplane bucket (2^bits cells, zero training pass) so
    the whole operator is integer-exact and oracle-replayable; a real
    deployment can swap in IVF/k-means cells (`ivf_assign`) at the
    cost of leaving the oracle gate.

    Keep rule -- one representative per connected similarity
    component: within-cell pairs at quantized cosine >=
    threshold_milli/1000 form edges; each connected component keeps
    its MINIMUM id and drops the rest. This is the SAME policy as the
    document dedup family (`dedup.connected_components` /
    docs_dedup_keepers), stated honestly: similarity is made
    TRANSITIVE, so a chain A~B~C collapses to one representative even
    when A and C are dissimilar -- the standard (conservative)
    pipeline semantics. Where chain-collapse is unacceptable, the
    non-transitive alternative is greedy leader selection (keep v iff
    no KEPT lower id within θ) -- a per-cell sequential pass that a
    SQL oracle cannot replay (negation over recursion), which is why
    it is not the gate default. The earlier "drop on ANY lower-id
    neighbor" rule sat incoherently between the two: it chain-dropped
    like components but left some dropped vectors with NO surviving
    representative at all (C dropped because of B while B itself was
    dropped), so the output wasn't a cluster→representative map.

    Exact duplicates are collapsed FIRST (group by the vector, keep
    min id): copies of one vector land in the same cell no matter how
    many cells exist, so without the collapse a duplicate-heavy corpus
    -- the exact input dedup exists for -- degrades the within-cell
    bound to quadratic. After the collapse, cells bound work over
    DISTINCT vectors; tight near-duplicate (not exact) clusters remain
    the per-cell-cap dial.

    ``bits=None`` auto-sizes the cell count to the corpus: one
    metadata-cheap count() picks bits ~ log2(n / target_cell_rows), so
    each cell holds ~target_cell_rows distinct vectors at any scale
    (measured on the 100x replica, 200k vectors: 42.8 s auto-sized vs
    210+ s on the fixed 8-bit grid; 2.5 s at 1x — sub-linear). The
    oracle-checked query pins bits=8 (the SQL replay inlines the
    planes); auto mode is the production dial.
    """
    from proglog_spark.operators.dedup import connected_components

    if threshold_milli <= 0:
        raise ValueError(
            f"threshold_milli must be > 0 (squared-threshold algebra), got {threshold_milli}"
        )
    if bits is None:
        import math

        n = corpus.count()
        bits = max(4, min(24, math.ceil(math.log2(max(n, 1) / target_cell_rows + 1))))
    # exact-duplicate collapse: one representative (min id) per
    # distinct vector; every non-rep copy is dropped by definition
    # (cosine 1.0 to its rep)
    reps = corpus.groupBy(vec_col).agg(F.min(id_col).alias("id"))
    b = (
        _vector_side(
            with_quantized_lsh_buckets(
                reps.select("id", vec_col), dim, bits=bits, tables=1,
                vec_col=vec_col, scale=scale,
            ),
            "id", vec_col, scale, F.col("lsh_bucket").alias("cell"),
        )
        # pinned: feeds both self-join sides and the output mapping --
        # without it the bucketing UDF and the corpus scan run 3x. An
        # eager RDD-level localCheckpoint (not .cache()) so the
        # ContextCleaner frees the blocks when the result is GC'd
        # instead of leaking one CacheManager entry per call. Known
        # trade: localCheckpoint truncates lineage, so losing an
        # executor that holds these blocks (spot reclaim, dynamic
        # deallocation) fails the query instead of recomputing — on
        # clusters where that matters, set a checkpoint dir and swap
        # for df.checkpoint(), keeping both the leak fix and recompute
        .localCheckpoint(eager=True)
    )
    edges = (
        _pair_dot(blocked_pairs(b, ["cell"], carry=["vec", "n2"]), _PAIR, scale)
        .where(_cosine_at_least(threshold_milli))
        .select(*_PAIR)
    )
    comp = connected_components(edges)  # (id, rep) for every edge endpoint
    dropped_reps = comp.where(F.col("id") != F.col("rep")).select("id").withColumn(
        "dropped", F.lit(True)
    )
    # map every ORIGINAL row to its rep (same vector => same cell)
    mapping = corpus.select(id_col, vec_col).join(
        reps.select(F.col(vec_col), F.col("id").alias("_rep")), vec_col
    )
    return (
        mapping.join(b.select(F.col("id").alias("_rep"), "cell"), "_rep")
        .join(dropped_reps.withColumnRenamed("id", "_rep"), "_rep", "left")
        .select(
            id_col,
            "cell",
            (
                (F.col(id_col) == F.col("_rep"))
                & F.coalesce(~F.col("dropped"), F.lit(True))
            ).alias("kept"),
        )
    )


def ivf_train_sample(
    corpus: DataFrame,
    sample_mod: int | None = None,
    max_train_rows: int = 1 << 18,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """The bounded, deterministic driver-side training sample.

    ``sample_mod=None`` (the default) derives the stride from the
    corpus count so at most ``max_train_rows`` rows are collected no
    matter how large the corpus — the FAISS train-on-a-sample
    discipline holds BY DEFAULT, not opt-in. An explicit sample_mod is
    honored, and the ordered LIMIT backstops both paths (skewed id
    distributions included), so the collect can never exceed the cap.

    NULL vectors are excluded (they cannot train a centroid and would
    kill the driver-side np.stack); the oracle's sample replay matches
    because a null-embedding corpus would fail its list arithmetic
    anyway — fixtures have none, and production nulls are the caller's
    filter to own before training.
    """
    if sample_mod is None:
        n = corpus.count()
        sample_mod = max(1, -(-n // max_train_rows))  # ceil(n / cap)
    return (
        corpus.where((F.col(id_col) % sample_mod == 0) & F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max_train_rows)
        .collect()
    )


# sorts strictly below every real IVF assignment key (|key| <= scale *
# dim * scale^2 = 6.4e10 at the defaults) — cells with an all-zero
# centroid attract nothing
_IVF_ZERO_CELL_KEY = -(1 << 60)


def _quantized_cell_keys(qm: np.ndarray, cents: np.ndarray, scale: int) -> np.ndarray:
    """Integer-exact IVF assignment keys: key[v, c] =
    sign(d)·(d²·scale div nc) with d = qm[v]·cents[c], nc = |cents[c]|².

    Monotone in cosine(v, c) for fixed v (the query norm is constant
    across cells, so cos² ∝ d²/nc; the sign restores order on the
    negative half), and every intermediate fits int64: with |q|,|c| ≤
    scale per component, d ≤ dim·scale² and d²·scale < 2^63 for
    dim·scale² ≤ 9.5e7 (dim ≤ 95 at scale 1000 — asserted by callers).
    Zero-norm centroids get the :data:`_IVF_ZERO_CELL_KEY` sentinel.
    Shared verbatim by training, corpus assignment, and query probing
    so the three stages cannot drift — and replayed term-for-term by
    the SQL oracle (queries.py::_ivf_ann_oracle).
    """
    D = qm @ cents.T  # (rows, cells) int64, exact
    nc = (cents.astype(np.int64) ** 2).sum(axis=1)  # (cells,)
    sign = np.where(D < 0, -1, 1)
    num = D.astype(np.int64) ** 2 * scale
    keys = sign * (num // np.where(nc == 0, 1, nc)[None, :])
    return np.where(nc[None, :] == 0, _IVF_ZERO_CELL_KEY, keys)


def quantized_ivf_train(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    sample_mod: int | None = None,
    max_train_rows: int = 1 << 18,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    sample_rows: list | None = None,
) -> np.ndarray:
    """Integer-exact spherical k-means for IVF cells.

    The FAISS discipline (train driver-side on the deterministic
    bounded sample, :func:`ivf_train_sample`), with every step int64
    arithmetic on the floor(x·scale) grid so an ANSI SQL engine
    reproduces the exact centroid trajectory:

    - init: the first ``n_cells`` sample vectors by id (already on the
      grid);
    - assignment: argmax of :func:`_quantized_cell_keys`, ties to the
      LOWEST cell index (numpy first-max == SQL list_position);
    - update: exact integer member sum, rescaled to the ±scale grid by
      sign(s)·(|s|·scale div max|s|) (the power-iteration rescale,
      operators/linalg.py); an empty cell keeps its previous centroid,
      an all-zero sum keeps the zero vector.

    Returns the (n_cells, dim) int64 centroid matrix.
    """
    # a caller composing several trainers over the same corpus (IVF-PQ)
    # passes the collected sample once instead of re-scanning per trainer
    rows = sample_rows if sample_rows is not None else ivf_train_sample(
        corpus, sample_mod, max_train_rows, id_col=id_col, vec_col=vec_col
    )
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    dim = mat.shape[1]
    assert (dim * scale * scale) ** 2 * scale < 2**63, (
        "assignment keys would overflow int64 — lower scale or dim"
    )
    qm = np.floor(mat * scale).astype(np.int64)
    cents = qm[:n_cells].copy()
    for _ in range(iters):
        assign = _quantized_cell_keys(qm, cents, scale).argmax(axis=1)
        nxt = cents.copy()
        for c in range(n_cells):
            members = qm[assign == c]
            if not len(members):
                continue  # empty cell: carry the previous centroid
            s = members.sum(axis=0)  # exact: |s| <= scale * sample cap
            m = np.abs(s).max()
            nxt[c] = s if m == 0 else np.where(s < 0, -1, 1) * ((np.abs(s) * scale) // m)
        cents = nxt
    return cents


def with_quantized_ivf_cells(
    df: DataFrame,
    centroids,
    n_probe: int = 1,
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Append (ivf_cell): each row's ``n_probe`` best cells by the
    integer assignment key (key desc, cell index asc — stable argsort,
    bit-identical to the oracle's ROW_NUMBER ordering). One
    Arrow-batched int64 matmul per batch against the tiny
    closure-shipped centroid matrix; corpus rows use n_probe=1 (each
    vector lives in exactly one cell), queries probe several.
    """
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.int64)
    kp, sc = n_probe, scale

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _cells(vecs: pd.Series) -> pd.Series:
        from proglog_spark.operators.linalg import (
            masked_vector_rows,
            scatter_masked,
        )

        # NULL vector -> NULL cell list (explode drops the row)
        mask, mat = masked_vector_rows(vecs)
        cells = []
        if mat.size:
            qm = np.floor(mat * sc).astype(np.int64)
            keys = _quantized_cell_keys(qm, C, sc)
            top = np.argsort(-keys, axis=1, kind="stable")[:, :kp]
            cells = [[int(c) for c in row] for row in top]
        return pd.Series(list(scatter_masked(mask, cells)))

    return df.select("*", F.explode(_cells(F.col(vec_col))).alias("ivf_cell"))


def quantized_ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    iters: int = 3,
    n_probe: int = 4,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    sample_rows: list | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) cells,
    oracle-exact end-to-end: integer
    k-means training (:func:`quantized_ivf_train`), integer cell
    assignment/probing, and :func:`quantized_cosine_key` ranking — the
    full approximate answer (candidate sets included) replays in ANSI
    SQL. Plan shape matches quantized_lsh_ann_topk: narrow (id, cell)
    corpus projection, broadcast query probes, candidates scored after
    a single vector join-back, per-query top-k on ids+key only.
    Output: (query_id, vec_id, cos2_pico, rank).

    ``sample_rows`` (optional) is a pre-collected
    :func:`ivf_train_sample` result — a caller sharing one bounded
    sample across several trained indexes over the same corpus passes
    it to skip the per-call corpus count + ordered-limit collect
    (the :func:`quantized_ivf_train` contract).
    """
    cents = quantized_ivf_train(
        corpus, n_cells, iters, sample_mod, id_col=id_col, vec_col=vec_col,
        scale=scale, sample_rows=sample_rows,
    )
    c = with_quantized_ivf_cells(
        corpus.select(id_col, vec_col), cents, 1, vec_col, scale
    ).select(id_col, "ivf_cell")
    q = with_quantized_ivf_cells(queries, cents, n_probe, vec_col, scale).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "ivf_cell"
    )
    # corpus rows live in exactly one cell and query probes are
    # distinct, so (query_id, id) candidate pairs are already unique —
    # no dedup stage needed (unlike the multi-table LSH join)
    cand = (
        c.join(F.broadcast(q.select("query_id", "ivf_cell")), on="ivf_cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )
    q_vecs = q.select("query_id", "q_vec").dropDuplicates(["query_id"]).select(
        "query_id",
        "q_vec",
        quantized_dot(F.col("q_vec"), F.col("q_vec"), scale).alias("nb"),
    )
    scored = (
        cand.join(
            corpus.select(
                id_col,
                vec_col,
                quantized_dot(F.col(vec_col), F.col(vec_col), scale).alias("na"),
            ),
            on=id_col,
        )
        .join(F.broadcast(q_vecs), on="query_id")
        .select(
            "query_id",
            id_col,
            quantized_dot(F.col(vec_col), F.col("q_vec"), scale).alias("qd"),
            "na",
            "nb",
        )
        .select(
            "query_id",
            id_col,
            quantized_cosine_key("qd", "na", "nb").alias("cos2_pico"),
        )
    )
    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("cos2_pico").desc(), F.col(id_col)],
        k,
        rank_col="rank",
    ).select("query_id", id_col, "cos2_pico", "rank")


def embedding_cosine_neardup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int | None = None,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n: int | None = None,
) -> DataFrame:
    """Near-duplicate embedding pairs (cosine >= threshold) via
    multi-table LSH self-join — the embedding analog of
    minhash_lsh_pairs. ``bits=None`` (default) auto-sizes bucket
    selectivity to the corpus via :func:`adaptive_lsh_bits` — with
    FIXED bits the bucket self-join grows n²/2^bits candidate pairs
    (the quadratic class the kNN-join 10× probe measured at 23.6×
    before its adaptive fix); the ladder keeps candidates
    ≈ tables·occupancy·n, linear. Bucketing runs on the same
    floor(x·scale) integer grid as the verification, so BOTH stages
    (candidates and the threshold test) are engine-portable and the
    emitted pair set hash-matches a SQL oracle that replays the
    bucketing (the quantized_knn_join precedent). Verification:
    cos ≥ t ⇔ d > 0 ∧ 10^6·d² ≥ t_milli²·na·nb with
    t_milli = round(1000·t) — exact in 128-bit decimal. Output:
    (id_a, id_b, cos2_pico) with cos2_pico from
    :func:`quantized_cosine_key`. Recall (which pairs the buckets
    propose, more bits → fewer per-table collisions, compensated by
    the ``tables`` dial) stays property-tested.
    """
    # the squared-threshold algebra (10^6·d² ≥ t²·na·nb with d > 0) is
    # one-sided: a zero/negative threshold would silently behave as
    # its absolute value (cos >= 0 pairs excluded, cos >= -t inverted)
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_milli = int(round(threshold * 1000))
    if bits is None:
        bits = adaptive_lsh_bits(df.count() if n is None else n)
    # checkpointed: the narrow bucket table feeds both self-join sides
    # (the bucketing UDF would otherwise run twice over the corpus);
    # localCheckpoint (not .cache()) lets the ContextCleaner free the
    # blocks when the frame is collected — a .cache() here leaked one
    # CacheManager copy per call for the session lifetime
    c = (
        with_quantized_lsh_buckets(
            df.select(id_col, vec_col), dim, bits, tables, vec_col, scale
        )
        .select(id_col, "lsh_table", "lsh_bucket")
        .localCheckpoint(eager=True)
    )
    cand = blocked_pairs(c, ["lsh_table", "lsh_bucket"], id_col=id_col, multi_key=True)
    return (
        _pair_dot(join_payload(cand, _vector_side(df, id_col, vec_col, scale)), _PAIR, scale)
        .where(_cosine_at_least(t_milli))
        .select(*_PAIR, quantized_cosine_key("qd", "na", "nb").alias("cos2_pico"))
    )

