"""End-to-end pipeline recipes — the compositions a migrating user
actually runs, wired from the engine's own parts and tested as wholes.

Three recipes:

- ``curate_and_shard``: the flagship text path — exact dedup →
  quality gate → train/valid/test split → deterministic shard export
  per split. Everything before the shard writer is ONE Catalyst plan
  (the `docs_curation_pipeline` discipline); the writer adds the one
  shard shuffle.
- ``media_pipeline``: the multimodal path — binaryFile landing-zone
  ingest → typed metadata extraction (Arrow-batched) → exact
  content-hash dedup → shard export. Decode stages stay behind the
  `multimodal` stubs (SURVEY §2: plumbing real, codecs faked until
  libs exist).
- ``log_to_training_text``: the log path — consume a LogTable from
  an offset, treat values as documents, run the text gate, append to
  a curated corpus dir. Demonstrates log→analytics composition (the
  reference's consume surface feeding the extension operators).

Each returns accounting DataFrames rather than printing — pipelines
are library calls.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proglog_spark.log import LogTable
from proglog_spark.multimodal import extract_media_meta
from proglog_spark.operators.sampling import train_split
from proglog_spark.operators.text import with_quality
from proglog_spark.sources.raw import read_binary_files
from proglog_spark.sources.shards import write_training_shards


def curate_and_shard(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    n_shards: int = 8,
    min_tokens: int = 20,
    min_distinct_micro: int = 300_000,
) -> DataFrame:
    """Dedup → quality gate → split → shard export; returns the
    per-(split, shard) accounting.

    One content-hash shuffle for dedup, zero-shuffle projections for
    quality and split, one shard shuffle in the writer. Shards are
    written under ``out_path/split=<name>/`` so a loader picks its
    split directory and its shard directory by path alone.
    """
    keepers = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = docs.join(keepers.select("doc_id"), "doc_id", "left_semi")
    gated = (
        with_quality(kept)
        .where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("distinct_micro") >= min_distinct_micro)
        )
        .select(*docs.columns)
    )
    # one materialization feeds the write and the accounting — and the
    # write itself is ONE job partitioned by (split, shard), not a
    # per-split loop (which would pay a full shard shuffle + sort per
    # split for the identical split=<s>/shard=<k>/ layout)
    labeled = train_split(gated, "doc_id").persist()
    try:
        write_training_shards(
            labeled,
            out_path,
            n_shards,
            key_col="doc_id",
            order_by=["doc_id"],
            extra_partition_cols=["split"],
        )
        # accounting from the (persisted) labeled frame with the SAME
        # deterministic shard function the writer used — no read-back,
        # so an all-filtered split yields zero rows instead of a
        # schema-inference error over a file-less directory
        from proglog_spark.sources.shards import assign_shard

        return (
            labeled.withColumn("shard", assign_shard("doc_id", n_shards))
            .groupBy("split", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("split", "shard")
            .localCheckpoint(eager=True)
        )
    finally:
        labeled.unpersist()


def media_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    n_shards: int = 4,
    glob: str | None = None,
) -> DataFrame:
    """Binary landing zone → typed metadata → content dedup → shards.

    Ingest is one whole-file scan (no decode); metadata extraction is
    the Arrow-batched `multimodal` pass; dedup groups on the content
    md5 (computed JVM-side over the binary column) keeping the
    lexicographically-first path — deterministic whatever the listing
    order. Returns the shard accounting with byte totals.
    """
    files = read_binary_files(spark, landing_dir, glob=glob)
    hashed = files.withColumn("content_md5", F.md5("content"))
    keep = hashed.groupBy("content_md5").agg(
        F.min("path").alias("path")
    )
    # persisted: the meta branch and the enriched branch would
    # otherwise each re-read and re-hash the whole landing zone
    deduped = (
        hashed.join(keep, ["content_md5", "path"], "left_semi")
        .withColumn("doc_id", F.abs(F.xxhash64("path")))
        .persist()
    )
    try:
        meta = extract_media_meta(
            deduped.select("doc_id", F.col("content").alias("payload"))
        )
        enriched = deduped.select(
            "doc_id", "path", "name", "length", "content_md5", "content"
        ).join(meta, "doc_id")
        write_training_shards(
            enriched,
            out_path,
            n_shards,
            key_col="content_md5",
            order_by=["path"],
        )
        # accounting from the in-memory frame with the writer's own
        # shard function — no read-back, so an EMPTY landing zone (or
        # a glob matching nothing) returns zero rows instead of a
        # schema-inference error over a file-less output dir
        from proglog_spark.sources.shards import assign_shard

        acct = (
            enriched.withColumn("shard", assign_shard("content_md5", n_shards))
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("length").cast("long").alias("total_bytes"),
            )
            .orderBy("shard")
            .localCheckpoint(eager=True)
        )
    finally:
        deduped.unpersist()
    return acct


def log_to_training_text(
    spark: SparkSession,
    log: LogTable,
    from_offset: int,
    out_path: str,
    min_tokens: int = 3,
) -> DataFrame:
    """Consume the log from an offset, gate the values as text, write
    the curated slice; returns (offset, value) rows kept.

    The scan is the pruned ``consume_from`` path (bucket dirs +
    footer stats), so a 100 TB log with a recent ``from_offset``
    reads only the tail buckets.
    """
    batch = log.consume_from(from_offset).select(
        "offset", F.col("value").alias("text")
    )
    gated = (
        with_quality(batch)
        .where(F.col("n_tokens") >= min_tokens)
        .select("offset", "text")
    )
    # idempotent by OFFSET: a retry (orchestrator re-run, overlapping
    # from_offset) must not append duplicate rows to the curated
    # corpus — anti-join against what the output already holds
    try:
        existing = (
            spark.read.schema("offset BIGINT, text STRING")
            .parquet(out_path)
            .select("offset")
        )
        fresh = gated.join(existing, "offset", "left_anti")
    except AnalysisException:  # first run: output does not exist yet
        fresh = gated
    fresh.write.mode("append").parquet(out_path)
    # explicit schema on the read-back: an all-filtered first batch
    # appends zero data files, and schema inference over an empty dir
    # raises where a declared schema just returns zero rows
    return (
        spark.read.schema("offset BIGINT, text STRING")
        .parquet(out_path)
        .orderBy("offset")
    )
