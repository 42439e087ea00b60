"""Physical-plan audits — the 100 TB posture, asserted.

The reference's two physical-layer tricks are offset indexing and
segment pruning (internal/log/index.go:40-66, log.go:99-104); our
equivalents are parquet predicate pushdown and partition pruning,
plus broadcast joins and bounded shuffles for the analytics surface.
These tests pin the *plan shape*, not timings: a plan that stops
pushing filters or starts sort-merge-joining a dimension table is a
scale regression even if sf0.1 still finishes fast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proglog_spark.operators import dedup, similarity
from proglog_spark.plans import executed_plan as plan_of
from proglog_spark.plans import optimized_plan as optimized_of
from proglog_spark.sources.tables import load_table


def test_point_read_pushes_offset_filter(spark, sf_dir):
    """L1 point read: the offset predicate must reach the parquet scan
    (our analog of the reference's mmap index lookup, index.go:49-54)."""
    from proglog_spark.sources.records import records_from_events

    df = records_from_events(spark, sf_dir).where(F.col("offset") == 42)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "event_id" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan_columns(spark, sf_dir):
    """Column pruning: a 2-column projection must not read the full
    events schema (ReadSchema in the scan node)."""
    df = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    read_schema = plan_of(df).split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_tpch_q5_broadcasts_dimensions(spark, sf_dir):
    """Small dims (region/nation/supplier at any sf ratio) must come in
    as broadcast joins, never shuffle the fact table for them."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["tpch_q5_nation_revenue"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    # the lineitem-side fact join keys may legitimately shuffle; but
    # region (5 rows) must never appear on a shuffle-exchange side
    assert plan.count("BroadcastHashJoin") >= 2


def test_brute_force_topk_broadcasts_queries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    df = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=5)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan  # never a shuffled cross join


def test_simhash_has_no_aggregate_exchange(spark, sf_dir):
    """SimHash is per-document: beyond fan_out's round-robin split of
    an under-partitioned input there must be NO shuffle (no hash
    Exchange, no aggregate) — the operator scales embarrassingly."""
    d = load_table(spark, sf_dir, "documents")
    plan = plan_of(dedup.simhash(d))
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_exact_dedup_is_single_hash_shuffle(spark, sf_dir):
    """Exact dedup: one hash-partitioned aggregate over (hash, id) —
    partial aggregation map-side, no sort, no join."""
    d = load_table(spark, sf_dir, "documents")
    plan = plan_of(dedup.exact_duplicates(d))
    assert plan.count("hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_quantized_lsh_ann_join_is_broadcast_not_smj(spark, sf_dir):
    """The bucket-collision join against the (tiny) query side must be
    a broadcast join; nothing may sort-merge."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = similarity.quantized_lsh_ann_topk(
        emb, emb.where(F.col("vec_id") == 0), dim=64, k=5
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_shuffles_on_cell_only(spark, sf_dir):
    """SemDeDup cells: the within-cell self-join must hash-partition
    on the cell key — the cluster bound is the scale contract, so no
    cartesian/nested-loop join over the corpus may appear."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(similarity.semantic_dedup(emb, dim=64))
    # the edge stage (cell-keyed self-join) materializes EAGERLY inside
    # connected_components (bounded driver union-find over the edge
    # list), so the returned plan holds only the mapping joins — the
    # pin here is that nothing in the remaining lineage degenerates to
    # an unkeyed join over the corpus; the cell-keyed candidate join
    # shape itself is pinned via quantized_lsh_ann's plan test (same
    # bucketing + join pattern)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_pipeline_is_shuffle_free(spark, sf_dir):
    """decode → resize → histogram is three chained mapInPandas
    stages: per-row work only, ZERO Exchange in the whole lineage."""
    from proglog_spark.multimodal import (
        decode_media,
        extract_pixel_histogram,
        resize_media,
    )

    d = load_table(spark, sf_dir, "documents")
    payload = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    resized = resize_media(decode_media(payload, height=8, width=8), out_h=4, out_w=4)
    plan = plan_of(extract_pixel_histogram(resized.select("doc_id", "pixels")))
    # the ONLY exchange allowed is the decode-parallelism round-robin
    # (media._ensure_python_stage_parallelism — a no-op on well-
    # partitioned production scans); never a keyed shuffle
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("RoundRobinPartitioning") <= 1


def test_scene_cuts_from_index_plan_never_touches_payloads(spark, sf_dir):
    """The persisted-fingerprint path's whole point is that decode is
    an ingest-time cost: its executed plan must contain NO Python
    stage (no MapInPandas/ArrowEval — the decode UDF is absent) and
    scan ONLY the 4-long fingerprint schema, never a payload/text
    column."""
    import shutil
    import tempfile

    from proglog_spark.multimodal.frameindex import (
        frame_fingerprint_write,
        scene_cuts_from_index,
    )
    from proglog_spark.queries import _shot_frame_hashes

    path = tempfile.mkdtemp(prefix="fp_plan_pin_")
    try:
        frame_fingerprint_write(_shot_frame_hashes(spark, sf_dir), path)
        plan = plan_of(scene_cuts_from_index(spark, path))
    finally:
        shutil.rmtree(path, ignore_errors=True)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "payload" not in plan and "text" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    for col in ("doc_id", "k", "simhash_lo", "simhash_hi"):
        assert col in read_schema


def test_scene_threshold_sweep_is_one_pass(spark, sf_dir):
    """The N-threshold sweep must cost ONE window pass over the frozen
    fingerprints + one aggregate — never N pipeline runs: exactly one
    clip-keyed hash shuffle (the window), no Python stage, and the
    threshold explode downstream of the window (so it multiplies only
    the narrow distance rows, not the windowed hash table)."""
    import shutil
    import tempfile

    from proglog_spark.multimodal.frameindex import (
        frame_fingerprint_read,
        frame_fingerprint_write,
        scene_count_sweep,
    )
    from proglog_spark.queries import _shot_frame_hashes

    path = tempfile.mkdtemp(prefix="fp_sweep_plan_pin_")
    try:
        frame_fingerprint_write(_shot_frame_hashes(spark, sf_dir), path)
        plan = plan_of(
            scene_count_sweep(frame_fingerprint_read(spark, path), [8, 12])
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") == 1
    assert plan.count("hashpartitioning(doc_id") == 1


def test_shared_scenes_pair_join_is_equi_on_signature(spark, sf_dir):
    """The cross-clip shared-scene stage must be an exact-match
    equi-join on the 32-char scene signature — never an all-pairs
    product (the shape that made the r9 keyframe gate un-shippable):
    no cartesian/nested-loop join anywhere, the pair shuffle keyed on
    sig, and exactly the two clip-keyed windows (scene ids + per-doc
    signature count) — no global single-partition window."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_video_shared_scenes"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(sig" in plan
    assert "hashpartitioning(doc_id" in plan  # clip-keyed, never global
    # the signature table is CACHED (the oracle's MATERIALIZED twin) —
    # the self-join must read it from memory, not rebuild the
    # window+md5 stage per side. Matching on the sig column output
    # makes the assertion discriminating: the session-cached
    # FINGERPRINT table alone also produces InMemoryTableScan nodes,
    # so a bare node count stays green when kw.cache() is dropped
    import re

    assert len(re.findall(r"InMemoryTableScan \[[^\]]*\bsig#", plan)) >= 2
    # every window is clip- or signature-keyed; a global window would
    # partition by nothing
    assert "windowspecdefinition(specifiedwindowframe" not in plan


def test_frame_fingerprint_read_rejects_drifted_artifact(spark):
    """ADVICE-r9: an explicit read schema is NOT a guard — Spark's
    parquet reader silently returns NULL for a missing/renamed column,
    and a NULL simhash_lo would make every frame open a scene (a
    silent wrong answer). frame_fingerprint_read must therefore raise
    on an artifact whose footer schema drifted, naming both the
    missing and the unexpected columns — and still accept a
    well-formed artifact regardless of column order."""
    import shutil
    import tempfile

    import pytest

    from proglog_spark.multimodal.frameindex import frame_fingerprint_read

    good = tempfile.mkdtemp(prefix="fp_read_ok_")
    bad = tempfile.mkdtemp(prefix="fp_read_drift_")
    try:
        rows = [(1, 0, 3, 7), (1, 1, 3, 7)]
        # column order permuted vs the DDL: name-set validation must
        # not care (parquet reads are name-resolved, not positional)
        spark.createDataFrame(
            rows, "simhash_hi LONG, simhash_lo LONG, doc_id LONG, k LONG"
        ).write.mode("overwrite").parquet(good)
        assert frame_fingerprint_read(spark, good).count() == 2
        # a renamed hash word — the exact drift that would null out
        spark.createDataFrame(
            rows, "doc_id LONG, k LONG, simhash LONG, simhash_hi LONG"
        ).write.mode("overwrite").parquet(bad)
        with pytest.raises(ValueError, match="simhash_lo") as exc:
            frame_fingerprint_read(spark, bad)
        assert "simhash'" in str(exc.value)  # the unexpected column, named
    finally:
        shutil.rmtree(good, ignore_errors=True)
        shutil.rmtree(bad, ignore_errors=True)


def test_scan_range_prunes_with_filter(spark, sf_dir):
    """L5 range scan: BETWEEN bounds push to the scan, mirroring
    segment-range routing (log.go:99-104)."""
    from proglog_spark.sources.records import records_from_events

    df = records_from_events(spark, sf_dir).where(F.col("offset").between(100, 200))
    plan = plan_of(df)
    pushed = plan.split("PushedFilters")[1][:250]
    assert "GreaterThanOrEqual" in pushed and "LessThanOrEqual" in pushed


def test_asof_join_is_single_key_shuffle_window(spark, sf_dir):
    """As-of join: exactly one hash shuffle (the window's key
    partition) and one Window over the tagged union — never an
    inequality join (which Catalyst can only nested-loop)."""
    from proglog_spark.operators import joins

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        F.col("o_orderkey").alias("ok"),
    )
    df = joins.asof_join(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate", tie_break="ok"
    )
    plan = plan_of(df)
    assert plan.count("hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """Range join: the bucketized formulation must plan as a hash or
    sort-merge equi-join with the containment predicate as a residual,
    never BroadcastNestedLoopJoin/CartesianProduct."""
    from proglog_spark.operators import joins

    e = load_table(spark, sf_dir, "events")
    pts = e.select(F.col("event_id").alias("c_id"),
                   F.col("user_id").alias("c_user"),
                   F.col("ts").alias("c_ts"))
    iv = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ws"),
        F.col("ts").alias("we"))
    df = joins.range_join(pts, iv, "c_user", "p_user", "c_ts", "ws", "we", 3600)
    plan = plan_of(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q16_anti_join_is_broadcast(spark, sf_dir):
    """The NOT-IN exclusion list (negative-balance suppliers) is tiny:
    it must broadcast, never shuffle lineitem for the anti join."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["tpch_q16_part_suppliers"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_q10_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """The top-20-by-revenue must execute as TakeOrderedAndProject —
    per-partition heaps merged on the driver — not a full Exchange
    rangepartitioning + Sort of every customer."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["tpch_q10_returned_revenue"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_q19_pushes_derived_quantity_filter(spark, sf_dir):
    """The OR-of-ANDs query must push the derived single-column
    l_quantity range into the lineitem scan (row-group pruning)."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["tpch_q19_disjunctive"][0](spark, sf_dir))
    pushed = plan.split("PushedFilters")[1][:300] if "PushedFilters" in plan else ""
    assert "l_quantity" in pushed


def test_first_last_touch_is_one_aggregation_no_window(spark, sf_dir):
    """The struct-min/max formulation must plan as hash aggregation
    with a single user-key exchange — no Window, no per-user Sort."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["events_first_last_touch"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    assert plan.count("hashpartitioning(user_id") <= 1


def test_contamination_is_broadcast_semi_join(spark, sf_dir):
    """The benchmark gram set is small: it must broadcast into a LEFT
    SEMI join — never shuffle the corpus grams on the gram key."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_contamination"][0](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_q11_reuses_aggregate_for_scalar_threshold(spark, sf_dir):
    """The global-threshold compare must ride a 1-row broadcast onto
    the per-part aggregate — no second scan-side shuffle join."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["tpch_q11_important_parts"][0](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_train_split_is_pure_projection(spark, sf_dir):
    """Split assignment must add zero exchanges — a scan + project."""
    from proglog_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    plan = plan_of(sampling.train_split(d, "doc_id"))
    assert "Exchange" not in plan


def test_mixture_audit_is_single_agg_no_join(spark, sf_dir):
    """Weighted mixture accounting: the whole recipe (hash + CASE
    rates + conditional aggs) must be ONE aggregation over the scan —
    no join, no second pass."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["docs_weighted_mixture"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial-agg shuffle + sort


def test_tfidf_df_join_is_broadcast(spark, sf_dir):
    """The per-term document-frequency table joins back by broadcast —
    the tf table must not shuffle twice on term."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["docs_tfidf_top_terms"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_match_probe_is_repartitioned(spark, sf_dir):
    """Blocked fuzzy match: the probe side must be explicitly
    repartitioned ahead of the broadcast join so the levenshtein
    stage can never collapse to the scan's (possibly single-file)
    parallelism."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["docs_fuzzy_block_match"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan


def test_incremental_dedup_shuffles_hashes_not_documents(spark, sf_dir):
    """Both join sides reduce to (fingerprint, id) before the shuffle:
    the text column must not appear past the scan projection."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["docs_incremental_dedup"][0](spark, sf_dir)
    plan = optimized_of(df)
    # text is consumed by md5() inside the first projection; no join
    # output or aggregate should carry it
    last = plan.split("Join")[0]
    assert "text" not in last


def test_gap_fill_spine_is_generated_not_collected(spark, sf_dir):
    """The dense bucket spine comes from sequence()+explode over the
    1-row bounds aggregate — no collect, and the raw events feed only
    one aggregation."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["events_minute_gapfill"][0](spark, sf_dir)
    plan = optimized_of(df)
    assert "Generate explode(sequence" in plan.replace("\n", " ") or "explode" in plan


def test_profile_has_no_expand_over_wide_rows(spark, sf_dir):
    """Profiling splits plain and distinct aggregates: the Expand for
    multi-distinct must only carry the distinct columns (the plain
    min/max agg runs in a separate subtree joined by broadcast)."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["lineitem_profile"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # two independent aggregation subtrees over the scan
    assert plan.count("Scan parquet") == 2


def test_bloom_probe_filters_before_join_exchange(spark, sf_dir):
    """The Bloom bit-test sits on the probe side BELOW the join's
    Exchange (pruning happens before rows shuffle), and it is plain
    codegen — no Python eval, no extra shuffle beyond the join's own."""
    from proglog_spark.operators import bloomjoin

    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    bitmap, m, k = bloomjoin.bloom_build(o, "l_orderkey", 500, fpp=0.01)
    probed = bloomjoin.bloom_probe(li, "l_orderkey", bitmap, m, k)
    plan = plan_of(probed)
    from proglog_spark.plans.audit import SHUFFLE_MARKER

    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "shiftright" in plan  # the bit-test filter is in the plan
    # probe adds zero hash shuffles; the only exchange is the one-row
    # bitmap broadcast it ships the filter with
    assert SHUFFLE_MARKER not in plan
    assert "BroadcastExchange" in plan

    # force the scale-relevant shape (at 100 TB neither side
    # broadcasts): in a shuffle join the bit-test must sit BELOW the
    # probe side's Exchange — tree-print order puts the parent
    # Exchange first, so the filter's offset is after it
    joined = probed.hint("shuffle_hash").join(o, "l_orderkey")
    jp = plan_of(joined)
    assert SHUFFLE_MARKER in jp
    assert jp.index("shiftright") > jp.index(SHUFFLE_MARKER)


def test_chunker_is_zero_shuffle_narrow_plan(spark, sf_dir):
    """docs_chunk_spans before its presentation sort: length/sequence/
    explode/substring must compose into one codegen stage with no
    Exchange — the chunker stays scan-bound at any scale."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["docs_chunk_spans"][0](spark, sf_dir)
    # strip the final orderBy (presentation-only) by re-deriving the
    # pre-sort projection from the same logical plan: count Exchanges
    # in the full plan and require the only one to be the range
    # partitioning for the sort.
    plan = plan_of(df)
    assert plan.count("Exchange") == 1  # rangepartitioning for ORDER BY
    assert "rangepartitioning" in plan
    assert "Generate explode" in plan


def test_day_type_matrix_broadcasts_grid_sides(spark, sf_dir):
    """The dense-grid query: the cross product is broadcast (no
    shuffle for the cartesian of the two DISTINCT projections) and
    the outer join onto counts is hash/broadcast, never a nested
    loop over facts."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["events_type_day_matrix"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan  # the tiny cross product
    assert "CartesianProduct" not in plan


def test_pagerank_result_is_lineage_truncated(spark, sf_dir):
    """The iterative loop checkpoints the |nodes|-sized rank vector
    every round (the bpe.train_bpe discipline), so the delivered plan
    is a flat scan of the final vector — no re-embedded iteration
    lineage, zero Exchanges. Per-iteration join strategy (rank and
    contribution vectors broadcast into the edge table) is asserted
    on a single un-checkpointed step below."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["events_type_pagerank"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange hashpartitioning" not in plan

    # one iteration, reconstructed without the checkpoint: the rank
    # join must be broadcast, never a sort-merge reshuffle of edges
    from proglog_spark.sources.tables import load_table as lt

    e = lt(spark, sf_dir, "events")
    tr = e.groupBy(F.col("event_type").alias("src")).count()
    rank = e.select(F.col("event_type").alias("node")).distinct()
    step = tr.join(F.broadcast(rank), tr["src"] == rank["node"])
    assert "BroadcastHashJoin" in plan_of(step)


def test_lateral_topn_decorrelates_to_window_join(spark, sf_dir):
    """The correlated LATERAL + LIMIT must decorrelate: window rank
    over a broadcast hash join, never a per-outer-row nested loop."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["tpch_lateral_top_customers"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan and "BroadcastHashJoin" in plan


def test_sql_udf_and_tvf_inline_at_analysis_time(spark, sf_dir):
    """SQL-defined functions must vanish into the plan: no Python
    evaluation node, no function-call boundary — the scalar UDF
    compiles to the raw expression, the TVF to a plain Generate."""
    from proglog_spark.queries import REGISTRY

    scalar = plan_of(REGISTRY["events_sql_udf_buckets"][0](spark, sf_dir))
    assert "BatchEvalPython" not in scalar and "ArrowEvalPython" not in scalar
    assert "FLOOR" in scalar.upper()  # the body, visible inline in codegen

    tvf = plan_of(REGISTRY["docs_sql_tvf_tokens"][0](spark, sf_dir))
    assert "Generate" in tvf
    assert "BatchEvalPython" not in tvf and "PythonUDTF" not in tvf


def test_pareto_users_has_no_global_window(spark, sf_dir):
    """events_pareto_users: the top-20 prefix must come from
    TakeOrdered + a 20x20 broadcast triangular join — a
    PARTITION-BY-less WindowExec over all users would serialize the
    per-user aggregate through one task at scale."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["events_pareto_users"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_user_percentiles_use_two_phase_rank_not_window(spark, sf_dir):
    """events_user_value_percentiles: rank/cume_dist must derive from
    the range-partitioned two-phase global rank (Arrow cumsum pass),
    never a global-ORDER-BY window over the full user population."""
    from proglog_spark.queries import REGISTRY

    df = REGISTRY["events_user_value_percentiles"][0](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan
    # the two-phase core's visible fingerprints: a range exchange was
    # materialized into the pinned scan, and the Arrow offset pass runs
    assert "MapInPandas" in plan or "Scan ExistingRDD" in plan


def test_cms_build_is_single_partial_agg_shuffle(spark, sf_dir):
    """CMS construction: one hash shuffle whose input is already the
    map-side-combined cell table (<= depth*width rows per task) — no
    joins, no sort. The sketch's whole point is that the shuffle never
    carries the key space."""
    from proglog_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(sketch.cms_build(ev, "user_id"))
    assert plan.count("hashpartitioning") == 1
    assert "Join" not in plan and "partial" in plan.lower()


def test_cms_estimate_join_is_broadcast(spark, sf_dir):
    """Point estimation joins the (<= depth*width row) cell table as a
    broadcast — the key stream itself is never shuffled for the
    lookup."""
    from proglog_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    cms = sketch.cms_build(ev, "user_id")
    est = sketch.cms_estimate(cms, ev.select("user_id").distinct(), "user_id")
    plan = plan_of(est)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_ann_single_corpus_scan_two_arrow_passes(spark, sf_dir):
    """PQ-ADC: the corpus parquet is scanned ONCE (encode); scoring
    runs on codes through a second Arrow pass; the per-query rank
    window is partitioned by query_id, never global."""
    from proglog_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id").isin(0, 1, 2))
    plan = plan_of(pq.quantized_pq_ann_topk(emb, q, dim=64, k=5))
    assert plan.count("Scan parquet") == 1
    assert plan.count("ArrowEvalPython") == 2
    assert "query_id" in plan.split("windowspecdefinition")[1][:40]


def test_ivfpq_probe_join_is_broadcast(spark, sf_dir):
    """IVF-PQ: the probed-cells join against the tiny query-probe
    table must broadcast; candidate scoring never sort-merges."""
    from proglog_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id").isin(0, 1, 2))
    plan = plan_of(pq.quantized_ivfpq_ann_topk(emb, q, dim=64, k=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_join_buckets_computed_once(spark, sf_dir):
    """kNN graph: the bucket table is eagerly checkpointed, so BOTH
    self-join sides read the materialized RDD and the bucketing UDF
    appears ZERO times in the final plan (it already ran, once)."""
    from proglog_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(sim.quantized_knn_join(emb, dim=64, k=3))
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan


def test_bm25_tokenizes_once(spark, sf_dir):
    """BM25: tf is the single materialization of the token explode
    (eager checkpoint); dl/df/S derive from it, so the plan reads the
    corpus parquet exactly once (the doc-count footer scan) and never
    re-explodes text per statistic."""
    from proglog_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    plan = plan_of(text_ops.bm25_topk(d, [(0, "hash"), (0, "join")], k=5))
    assert plan.count("Scan parquet") == 1
    assert "Scan ExistingRDD" in plan


def test_cosine_neardup_buckets_checkpointed_not_cached(spark, sf_dir):
    """Adaptive cosine near-dup: the bucket table feeds both self-join
    sides through the eager localCheckpoint — the bucketing UDF ran
    once before the plan was built (zero ArrowEvalPython nodes) and no
    InMemoryRelation leaks into the CacheManager (the per-call .cache()
    this replaced held one copy per invocation for the session)."""
    from proglog_spark.operators import similarity as sim

    # other test modules legitimately .cache() fixture tables, and the
    # CacheManager's plan-matching would splice an InMemoryTableScan
    # into OUR scan when the whole suite shares the session — clear
    # first so the no-cache assertion tests THIS operator, not suite
    # ordering
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(sim.embedding_cosine_neardup(emb, dim=64, threshold=0.45))
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "InMemoryTableScan" not in plan
    # r11: the per-vector self-dots are computed on the n-row vector
    # sides (zip_with over the scan's `embedding` column), never per
    # candidate pair — a pair-side self-dot would print as
    # zip_with(vec_b#, vec_b#); the only pair-side HOF is the qd dot
    # zip_with(vec_a#, vec_b#)
    assert "zip_with(vec_b" not in plan
    assert "zip_with(embedding" in plan


def test_bm25_decontamination_no_corpus_shuffle_beyond_stats(spark, sf_dir):
    """Decontamination: the benchmark term table and the totals are
    BROADCAST into the scoring join — the only exchanges are the
    bm25_topk statistics reductions and the two-phase top-k, never a
    corpus-vs-benchmark shuffle."""
    from proglog_spark import queries as q

    plan = plan_of(q.REGISTRY["docs_bm25_decontamination"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # qt joins tf on term via broadcast: no SortMergeJoin against the
    # corpus-side statistics anywhere in the scoring pipeline
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_streamed_audit_joins_broadcast(spark, sf_dir):
    """The monitor's audit side: CMS estimate and MG summary join the
    top-20 exact rows via broadcast (both are bounded — depth·width
    cells, groups·k summary entries); the verdict never shuffles the
    exact key table against the sketches."""
    from proglog_spark import queries as q

    plan = plan_of(q.REGISTRY["events_heavy_hitters_streamed"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_training_is_two_jobs_then_driver(spark, sf_dir):
    """BPE training: the corpus contributes ONE reduction (word-freq
    table: a single parquet scan feeding a partial-agg shuffle); the
    merge loop runs on the collected vocabulary, so the returned merge
    table is a LocalTableScan — no per-merge Spark jobs in the plan."""
    from proglog_spark import queries as q

    plan = plan_of(q.REGISTRY["docs_bpe_train_merges"][0](spark, sf_dir))
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # training already ran; result is local


def test_ivf_knn_join_assignment_once_no_cache(spark, sf_dir):
    """Trained-partition kNN graph: the (id, cell) table is eagerly
    checkpointed, so both self-join sides read the materialized RDD —
    the assignment UDF ran once before the plan existed and nothing
    stays in the CacheManager."""
    from proglog_spark.operators import similarity as sim

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(sim.quantized_ivf_knn_join(emb, dim=64, k=3))
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "InMemoryTableScan" not in plan
    # r11 (guide §2.5): the candidate pair table is re-keyed by src
    # before scoring — the only join key upstream is ivf_cell, whose
    # adaptive count is n/256, so without this the scoring stage runs
    # on n_cells tasks; the src hash exchange both restores width and
    # is the exact partitioning the per-src top-k window reuses
    assert "hashpartitioning(src" in plan


def test_dsir_model_broadcasts_and_takes_ordered(spark, sf_dir):
    """DSIR selection: the ≤10007-row model joins back by BROADCAST
    (never a shuffle of the feature table against it), the top-100 is
    TakeOrderedAndProject (no global sort), and the corpus parquet is
    scanned exactly once (model counts reduce FROM the per-doc feature
    table, not a second explode)."""
    from proglog_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    plan = plan_of(text_ops.dsir_topk(d, F.col("lang") == "en", k=100))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # the feature table is eagerly checkpointed: every consumer (model
    # counts, totals, scoring join) reads the materialized RDD — zero
    # re-reads of the corpus parquet inside the plan
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan


def test_bm25_index_query_pushes_term_in_filters(spark, sf_dir, tmp_path):
    """Persistent BM25 index: a query's terms reach the tf/df scans as
    pushed In(term) filters (footer min-max pruning on the
    term-range-sorted files) and the corpus TEXT is never read — the
    plan scans only the index tables."""
    from proglog_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    text_ops.bm25_index_write(d, path)
    plan = plan_of(
        text_ops.bm25_index_query(spark, path, [(0, "hash"), (0, "join")], k=5)
    )
    assert "In(term, [" in plan or "term IN (" in plan
    assert "documents.parquet" not in plan


def test_image_dhash_single_pass_no_pre_sort_shuffle(spark, sf_dir):
    """docs_image_dhash is ONE fused decode+hash pass (r11:
    decode_dhash64 — the pixel grid never leaves the Python stage):
    the scan reads only (doc_id, text), exactly one MapInPandas stage
    emitting the three hash longs, and the only Exchange is the final
    ORDER BY — nothing shuffles before it and no 72-int pixel array
    crosses the Arrow boundary."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_image_dhash"][0](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert read_schema.count(",") == 1  # exactly the two columns
    assert plan.count("MapInPandas") == 1
    # exchanges: the decode-parallelism round-robin + the final ORDER
    # BY range — never a keyed mid-plan shuffle
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.count("rangepartitioning") == 1
    assert "hashpartitioning" not in plan
    # the fused stage emits hashes directly: no pixel-array column in
    # the plan at all (the old composed shape shipped ARRAY<INT>
    # pixels back through Arrow and packed bits JVM-side)
    assert "pixels" not in plan
    assert "simhash_lo" in plan


def test_image_neardup_blocked_join_not_cartesian(spark, sf_dir):
    """docs_image_neardup candidates come from the pigeonhole block
    join (posexplode over 4 block values, equi-join on blk/blk_val),
    never a cartesian product. r12: the sketch words RIDE the explode
    and candidates verify inline, so the plan has exactly the two
    explode-side reads of the CACHED sketch table and NO verify
    join-backs — the decode UDF pass still materializes once.
    (MapInPandas strings recur in the printout because each
    InMemoryTableScan reprints its cached child plan; the execution
    count is the InMemoryTableScan count, not that.)"""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_image_neardup"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Generate" in plan  # the posexplode blocking
    assert plan.count("InMemoryTableScan") == 2


def test_audio_fingerprint_single_decode_no_pre_sort_shuffle(spark, sf_dir):
    """docs_audio_fingerprint is ONE projection (JVM WAV build) + ONE
    MapInPandas (stdlib wave decode) + codegen'd bit arithmetic: the
    scan reads only (doc_id, text), exactly one Python stage, the hash
    words are built-in expressions, and the only Exchange is the final
    ORDER BY."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_audio_fingerprint"][0](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert read_schema.count(",") == 1
    assert plan.count("MapInPandas") == 1
    # exchanges: the decode-parallelism round-robin + the final ORDER
    # BY range — never a keyed mid-plan shuffle
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.count("rangepartitioning") == 1
    assert "hashpartitioning" not in plan
    assert "shiftleft" in plan  # bit packing is JVM-side


def test_audio_energy_topk_broadcasts_queries_one_corpus_pass(spark, sf_dir):
    """docs_audio_energy_topk: the 3 query envelopes broadcast (no
    sort-merge join against the corpus), candidates never go through a
    cartesian-without-broadcast, and the envelope table is cached so
    the decode UDF pass runs once for the corpus scan AND the query
    selection."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_audio_energy_topk"][0](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # corpus + query reads


def test_sq8_train_broadcasts_grid_and_scan_stays_jvm(spark, sf_dir):
    """emb_sq8_ann_topk: the one-row training grid and the query codes
    reach the corpus pass as broadcasts; encode + dequantize + ADC dot
    are all built-in array expressions (zero Python stages); no
    cartesian product materializes row pairs."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["emb_sq8_ann_topk"][0](spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2  # grid (x2 sides) + queries
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "transform" in plan and "aggregate" in plan  # array exprs, JVM


def test_shard_assignment_is_pure_projection_plus_tiny_agg(spark, sf_dir):
    """docs_shard_assignment: the HRW argmax is array_max over struct
    literals — a codegen'd projection. No explode, no per-key window,
    no Python, no cartesian; the md5 scores are JVM expressions. The
    only exchanges are the 16-row agg / final window / sort."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_shard_assignment"][0](spark, sf_dir))
    assert "Generate" not in plan            # no explode-based argmax
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "md5" in plan                      # hash stays JVM-side
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_zorder_layout_codegen_bits_single_agg(spark, sf_dir):
    """events_zorder_layout: the Morton key is shiftleft/and bit
    arithmetic in whole-stage codegen over a 2-column scan; one agg
    exchange plus the final sort, zero Python."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["events_zorder_layout"][0](spark, sf_dir))
    assert "shiftleft" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "user_id" in read_schema and "value" in read_schema
    assert read_schema.count(",") == 1        # exactly the two columns
    assert plan.count("ReadSchema:") == 1     # one scan feeds everything


def test_constraint_audit_single_scan_single_agg_tree(spark, sf_dir):
    """docs_constraint_audit: N constraints, ONE pass — a single
    parquet scan feeds one aggregate tree (count_distinct adds an
    Expand, not a second scan), then the verdict explode runs on one
    row. No Python anywhere."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_constraint_audit"][0](spark, sf_dir))
    assert plan.count("ReadSchema:") == 1     # exactly one table scan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_weighted_sample_take_ordered_not_global_sort(spark, sf_dir):
    """docs_weighted_sample: the global bottom-100 must be
    TakeOrderedAndProject (per-partition heaps), never a full sort of
    the ticket table; tickets are md5 JVM expressions over an explode;
    the ticket min partial-aggregates before its exchange."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_weighted_sample"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" in plan                 # the weight explode
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_scene_cuts_one_decode_pass_windows_by_clip(spark, sf_dir):
    """docs_video_scene_cuts: exactly one Python stage (the frame
    decode); both windows partition by doc_id (hashpartitioning, not a
    single-partition global window); shuffles carry only (doc_id, k,
    two hash words) — never payloads (no `payload`/`text` column in
    any Exchange's input list)."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_video_scene_cuts"][0](spark, sf_dir))
    # when a prior test has materialized the session-cached hash table,
    # the InMemoryRelation subtree prints BOTH its AQE final and
    # initial plans — count Python stages in the final text only so
    # the pin is cache-state-insensitive (pre-existing selection-order
    # flake, surfaced in r11)
    assert plan.split("== Initial Plan ==")[0].count("MapInPandas") == 1
    assert "hashpartitioning(doc_id" in plan
    assert "CartesianProduct" not in plan
    for chunk in plan.split("Arguments: hashpartitioning")[1:]:
        header = chunk.splitlines()[0]
        assert "payload" not in header and "text" not in header


def test_replica_placement_no_window_no_python(spark, sf_dir):
    """docs_replica_placement: the top-2 is an array_sort projection —
    no per-key window, no Python stage, no cartesian; the only
    Generate is the 2-element role explode and the only keyed shuffle
    is the 16-row shard agg."""
    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_replica_placement"][0](spark, sf_dir))
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") == 1     # the role explode only
    assert "md5" in plan and "array_max" not in plan  # rank, not argmax


def test_av_dedup_verdicts_rides_cached_tiers_no_cartesian(spark, sf_dir):
    """The cross-modality verdict report must be pair-sized joins over
    the two already-gated retrievals — never an all-pairs product and
    never a fresh decode per reference: no cartesian/nested-loop join
    anywhere; the scene pair stage reads the CACHED signature table
    (>= 2 sig-column InMemoryTableScans, the self-join sides) and the
    audio side reads the CACHED 3-long fingerprint feed (>= 2
    simhash-column InMemoryTableScans — one decode pass shared by the
    a/b verdict joins and the radius-3 blocking); the pair stages stay
    keyed (signature for scenes, pair ids for the hamming dedup) and
    the audio_only branch is a LeftAnti join, not a subtract-by-
    recompute."""
    import re

    from proglog_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["docs_av_dedup_verdicts"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"InMemoryTableScan \[[^\]]*\bsig#", plan)) >= 2
    assert (
        len(re.findall(r"InMemoryTableScan \[[^\]]*simhash_lo#", plan)) >= 2
    )
    assert "hashpartitioning(sig" in plan
    assert "hashpartitioning(id_a" in plan
    assert "LeftAnti" in plan
    # every window clip-keyed — no global single-partition window
    assert "windowspecdefinition(specifiedwindowframe" not in plan


# Hash-shuffle count of every query built on the blocked-pairs core
# (operators/pairs.py), measured with a cleared cache at sf0.001 and
# sf0.01 on local[4] with 4 shuffle partitions before the core
# existed. A consumer may lose shuffles, never gain one.
_PAIRS_CONSUMER_SHUFFLES = {
    "docs_dedup_keepers": 2,
    "docs_neardup_jaccard": 1,
    "docs_containment_dedup": 2,
    "docs_minhash_lsh": 1,
    "docs_simhash_neardup": 1,
    "docs_image_neardup": 1,
    "docs_video_perceptual_containment": 2,
    "docs_video_frame_containment": 3,
    "docs_video_shared_scenes": 7,
    "emb_knn_join": 2,
    "emb_knn_join_ivf": 1,
    "emb_semantic_dedup": 3,
    "emb_cosine_neardup": 1,
}


@pytest.mark.parametrize("name", sorted(_PAIRS_CONSUMER_SHUFFLES))
def test_pairs_consumer_shuffle_count_pinned(spark, sf_dir, name):
    """The shared pairs core must not add an Exchange to any consumer.
    The cache is cleared first: a cached table that another test
    already materialized prints both its final and initial plans, which
    double-counts its exchanges."""
    from proglog_spark.plans import count_shuffles
    from proglog_spark.queries import REGISTRY

    spark.catalog.clearCache()
    got = count_shuffles(REGISTRY[name][0](spark, sf_dir))
    assert got <= _PAIRS_CONSUMER_SHUFFLES[name]
