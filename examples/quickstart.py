"""Runnable tour of proglog_spark — the whole surface in one script.

    python examples/quickstart.py [workdir]

Walks the paths a migrating user cares about, in order: the log
itself (produce/consume/scan/tail, the reference's RPC surface), the
low-latency native consumer, the Engine facade with ACL + SQL, the
``format("proglog")`` connector, analytics queries and operators from
the declared surface, and the HTTP edge.
Each step prints what it did; ``run()`` returns the artifacts so the
test suite can assert on them (tests/test_examples.py).
"""

from __future__ import annotations

import base64
import json
import os
import sys
import tempfile
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def run(spark, workdir: str, sf_dir: str = SF_DIR) -> dict:
    out: dict = {}

    # 1 — the log as a table (Produce/Consume/scan/tail, SURVEY L1-L7)
    from proglog_spark import Engine, LogTable

    log = LogTable.create(spark, f"{workdir}/log", bucket_size=1 << 16)
    first, last = log.append([f"event-{i}" for i in range(100)])
    out["append_span"] = (first, last)
    out["point_read"] = tuple(log.read(42))
    out["tail_values"] = [r.value for r in log.tail(3).collect()]

    # 2 — low-latency native tail (the ConsumeStream loop, ~30 ms)
    import threading

    stop = threading.Event()
    tail_rows = []
    for row in log.consume_iter(from_offset=98, stop=stop):
        tail_rows.append(row[0])
        if len(tail_rows) >= 2:
            stop.set()
            break
    out["native_tail"] = tail_rows

    # 3 — Engine facade: ACL-gated RPC surface + parameterized SQL.
    # Wrap the EXISTING handle: the log is single-writer by contract,
    # so opening a second writer on a live table is the one pattern
    # to avoid (a stale highest-offset cache could duplicate offsets).
    engine = Engine(log)
    engine.produce("root", ["via-engine"])
    out["sql_count"] = engine.sql(
        "SELECT count(*) AS n FROM records WHERE offset >= :lo",
        args={"lo": 50},
    ).collect()[0].n
    try:
        engine.produce("nobody", ["denied"])
        out["acl"] = "MISSED"
    except Exception as e:
        out["acl"] = str(e)

    # 4 — the connector: any Spark reader, no library imports needed
    from proglog_spark import register_proglog_source

    register_proglog_source(spark)
    out["connector_rows"] = (
        spark.read.format("proglog")
        .option("path", f"{workdir}/log")
        .option("from_offset", 90)
        .load()
        .count()
    )

    # 5 — one declared analytics query (203 total; see QUERIES.md)
    from proglog_spark.queries import REGISTRY

    out["scorecard"] = [
        tuple(r)
        for r in REGISTRY["docs_source_scorecard"][0](spark, sf_dir)
        .limit(3)
        .collect()
    ]

    # 5b — the training-data toolkit in three calls: a mergeable
    # count-min sketch (frequency answers from depth×width integers),
    # product-quantization ANN over embeddings (16-byte codes), and
    # BM25 retrieval — each also a hash-checked entry in the declared
    # suite (events_cms_*, emb_pq_ann_topk, docs_bm25_topk)
    from pyspark.sql import functions as F

    from proglog_spark.operators import pq, sketch, text
    from proglog_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    cms = sketch.cms_build(events, "user_id")
    out["cms_cells"] = cms.count()  # <= 4 * 512 whatever the corpus

    emb = load_table(spark, sf_dir, "embeddings")
    hits = pq.quantized_pq_ann_topk(
        emb, emb.where(F.col("vec_id") == 0), dim=64, k=3
    )
    out["pq_neighbors"] = [r.vec_id for r in hits.collect()]

    docs_tbl = load_table(spark, sf_dir, "documents")
    out["bm25_top3"] = [
        (r.doc_id, r.score_micro)
        for r in text.bm25_topk(docs_tbl, [(0, "hash"), (0, "join")], k=3).collect()
    ]
    # ...or index once, query many (the build-offline pattern): the
    # persisted index returns byte-identical rankings without ever
    # re-reading corpus text
    text.bm25_index_write(docs_tbl, f"{workdir}/bm25_idx")
    out["bm25_index_top3"] = [
        (r.doc_id, r.score_micro)
        for r in text.bm25_index_query(
            spark, f"{workdir}/bm25_idx", [(0, "hash"), (0, "join")], k=3
        ).collect()
    ]

    # 5c — the multimodal tier in two calls: a perceptual audio
    # fingerprint through the REAL WAV codec path (decode -> energy
    # envelope -> difference-sign hash, the Chromaprint idea), and the
    # SQ8 uint8-quantized ANN scan (8x memory compression, ranked by
    # exact integer dequantized dots) — both hash-checked suite
    # entries (docs_audio_fingerprint, emb_sq8_ann_topk)
    import io
    import wave

    from proglog_spark.multimodal import audio_ahash64, decode_audio
    from proglog_spark.operators import similarity

    def tiny_wav(seed: int) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(1)
            wf.setframerate(8000)
            wf.writeframes(bytes((seed * k * 37 + 128) % 256 for k in range(200)))
        return buf.getvalue()

    clips = spark.createDataFrame(
        [(i, tiny_wav(i)) for i in range(3)], "doc_id LONG, payload BINARY"
    )
    fp = audio_ahash64(decode_audio(clips, prefix=216))
    out["audio_fingerprints"] = fp.count()

    sq8 = similarity.quantized_sq8_ann_topk(
        emb, emb.where(F.col("vec_id") == 0), dim=64, k=3
    )
    out["sq8_neighbors"] = [r.vec_id for r in sq8.collect()]

    # 5d — the writer/curator side: stable HRW shard ownership (a
    # pure projection — adding a shard moves ~1/n of keys), a one-pass
    # declarative quality audit, and a reproducible length-weighted
    # sample (all three are hash-checked suite entries:
    # docs_shard_assignment, docs_constraint_audit,
    # docs_weighted_sample)
    from proglog_spark.operators import audit, placement, sampling
    from proglog_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    owned = docs.select(
        placement.rendezvous_shard(F.col("doc_id"), 4).alias("shard")
    )
    out["shard_counts"] = sorted(
        (r.shard, r.n) for r in owned.groupBy("shard").agg(F.count("*").alias("n")).collect()
    )
    verdicts = audit.audit(
        docs,
        [
            ("completeness_text", audit.completeness_micro(F.col("text")), 990000, None),
            ("uniqueness_doc_id", audit.uniqueness_micro(F.col("doc_id")), 1000000, None),
        ],
    )
    out["audit"] = [(r.check_name, r.passed) for r in verdicts.collect()]
    weighted = docs.select(
        "doc_id",
        (F.lit(1) + F.coalesce(F.col("n_chars"), F.lit(0)) / F.lit(64))
        .cast("long")
        .alias("w"),
    )
    sample = sampling.ppswor_bottom_k(weighted, "doc_id", "w", k=5)
    out["weighted_sample"] = [r.key for r in sample.orderBy("rank").collect()]

    # 5e — the video fingerprint-index tier: decode once at ingest,
    # persist 4 longs per frame, then segment scenes and sweep cut
    # thresholds forever from the frozen artifact (the gate-checked
    # docs_scene_cuts_from_index / docs_scene_threshold_sweep paths —
    # their read plans never touch a payload column)
    from proglog_spark.multimodal.frameindex import (
        frame_fingerprint_read,
        frame_fingerprint_write,
        scene_count_sweep,
        scene_cuts_from_index,
    )

    # two tiny clips: clip 0 = two 3-frame shots (one mid-clip cut),
    # clip 1 = one steady shot (no cut after the opening frame)
    hashes = spark.createDataFrame(
        [(0, k, h & 0xFFFFFFFF, h >> 32)
         for k, h in enumerate([7, 7, 7, 0xFFFF00FF] * 1)]
        + [(0, 4, 0xFFFF00FF & 0xFFFFFFFF, 0xFFFF00FF >> 32),
           (0, 5, 0xFFFF00FF & 0xFFFFFFFF, 0xFFFF00FF >> 32)]
        + [(1, k, 42, 0) for k in range(4)],
        "doc_id LONG, k LONG, simhash_lo LONG, simhash_hi LONG",
    )
    frame_fingerprint_write(hashes, f"{workdir}/frame_fp")
    frozen = frame_fingerprint_read(spark, f"{workdir}/frame_fp")
    out["scene_accounting"] = [
        (r.doc_id, r.n_frames, r.n_scenes)
        for r in scene_cuts_from_index(spark, f"{workdir}/frame_fp").collect()
    ]
    out["threshold_sweep"] = [
        (r.threshold, r.n_scenes)
        for r in scene_count_sweep(frozen, [4, 64]).collect()
    ]
    print(
        "scene index:", out["scene_accounting"],
        "sweep:", out["threshold_sweep"],
    )

    # 5f — cross-clip shared-scene retrieval (the gate-checked
    # docs_video_shared_scenes path): clips pair up on the ORDER-
    # SENSITIVE md5 of a whole multi-shot scene's frame-hash sequence
    # — single-frame or aggregate matching is too promiscuous (the r9
    # probe matched ~95% of clip pairs); a shared sequence signature
    # means the same footage appears in both clips
    from proglog_spark.multimodal.frameindex import scene_signatures

    splice = spark.createDataFrame(
        [(0, k, 7, 9) for k in range(6)]        # clips 0 and 1 share a
        + [(1, k, 7, 9) for k in range(6)]      # 6-frame steady scene
        + [(2, k, 42, 0) for k in range(6)],    # unrelated clip
        "doc_id LONG, k LONG, simhash_lo LONG, simhash_hi LONG",
    )
    sigs = scene_signatures(splice, min_len=4).select("doc_id", "sig")
    out["shared_scene_pairs"] = [
        (r.doc_a, r.doc_b)
        for r in sigs.alias("a")
        .join(sigs.alias("b"), "sig")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .collect()
    ]
    print("shared-scene pairs:", out["shared_scene_pairs"])

    # 5g — cross-modality A/V dedup verdicts (the gate-checked
    # docs_av_dedup_verdicts path): pairs flagged by EITHER perceptual
    # tier, classified by whether video and audio agree — clip 11
    # splices clip 10's calm scene under an opposite-phase soundtrack
    # (re_dubbed: same footage, different audio), while clip 13
    # permutes clip 12's characters WITHIN each 3-char energy frame
    # (audio_only: identical energy envelope, no shared 9-char window)
    from proglog_spark.queries import REGISTRY

    calm = "ABCABCABC"
    clips = [
        (10, calm * 3 + "~~~aaa" * 9),
        (11, "aaa~~~" * 9 + calm * 3),
        (12, "defrstuvw" * 6),
        (13, "edfsrtvuw" * 6),
    ]
    spark.createDataFrame(
        [(i, t, "s", len(t)) for i, t in clips],
        "doc_id LONG, text STRING, source STRING, n_chars LONG",
    ).write.mode("overwrite").parquet(f"{workdir}/av_demo/documents.parquet")
    out["av_verdicts"] = [
        (r.doc_a, r.doc_b, r.verdict)
        for r in REGISTRY["docs_av_dedup_verdicts"][0](
            spark, f"{workdir}/av_demo"
        ).collect()
    ]
    print("a/v verdicts:", out["av_verdicts"])

    # 6 — the HTTP edge (the reference's wire protocol)
    from proglog_spark import HttpLogServer

    srv = HttpLogServer(engine)
    host, port = srv.start()
    try:
        req = urllib.request.Request(
            f"http://{host}:{port}/?offset=0", method="GET"
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            rec = json.loads(resp.read())["record"]
        out["http_read"] = base64.b64decode(rec["value"]).decode()
    finally:
        srv.stop()
    return out


def main() -> None:
    from proglog_spark import build_session

    spark = build_session("quickstart", master="local[4]", shuffle_partitions=4)
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp()
    print(f"workdir: {workdir}")
    try:
        for k, v in run(spark, workdir).items():
            print(f"{k}: {v}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
