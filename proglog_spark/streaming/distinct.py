"""Continuous DISTINCT-count rollup — mergeable structures as state.

`streaming/rollup.py` maintains running COUNTS; distinct counts are
harder because count-distinct state is not a number you can add to.
The classic answers are (a) keep every seen key in streaming state
(unbounded) or (b) re-scan history per refresh (the thing a rollup
exists to avoid). This operator takes the third route: the
materialized table stores a MERGEABLE structure per (bucket, group) —

- ``exact``  : one bitmap per (bucket, group, 32k-id sub-bucket) via
  ``bitmap_construct_agg``; merge = ``bitmap_or_agg``; read =
  ``bitmap_count``. Exact distinct, ~4 KB per sub-bucket ceiling.
- ``sketch`` : one HLL sketch per (bucket, group) via
  ``hll_sketch_agg``; merge = ``hll_union_agg``; read =
  ``hll_sketch_estimate``. Fixed KBs per group, ±~2-5%.

Because OR and HLL-union are idempotent AND commutative, the pipeline
needs NO watermark and NO stateful aggregation at all: each
micro-batch is folded into the table by pure set algebra, replaying a
batch after a crash merges the identical sketch and changes nothing
(at-least-once delivery ⇒ exactly-once table contents), and
arbitrarily late events simply OR into their original bucket — no
late-data drop, unlike the watermark-bound counting rollup. Streaming
state is just the source offsets; the table IS the aggregate state.

The batch twins are `events_bitmap_distinct` / `events_hll_rollup_gate`
(hash-checked against DuckDB); batch/stream parity is pinned in
tests/test_streaming.py.
"""

from __future__ import annotations

import pyspark.sql.streaming as S
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proglog_spark.log.store import open_store


def _bucketize(df: DataFrame, time_col: str, bucket_seconds: int) -> DataFrame:
    # null event times are dropped, matching the watermarked-window
    # twin (rollup.py): a NULL bucket would land in the hive default
    # partition where isin(buckets) can never re-select it, so the
    # dynamic overwrite would silently replace accumulated state with
    # batch-only structures
    return df.where(F.col(time_col).isNotNull()).withColumn(
        "bucket",
        (F.unix_timestamp(F.col(time_col)) / bucket_seconds).cast("long"),
    )


def _batch_structs(
    df: DataFrame, group_cols: list[str], id_col: str, mode: str
) -> DataFrame:
    """Fold one micro-batch into per-group mergeable structures."""
    if mode == "exact":
        return (
            df.select(
                "bucket",
                *group_cols,
                F.expr(f"bitmap_bucket_number({id_col} + 1)").alias("bk"),
                F.expr(f"bitmap_bit_position({id_col} + 1)").alias("pos"),
            )
            .groupBy("bucket", *group_cols, "bk")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("s"))
        )
    return (
        df.select("bucket", *group_cols, id_col)
        .groupBy("bucket", *group_cols)
        .agg(F.expr(f"hll_sketch_agg({id_col})").alias("s"))
    )


def _merge_structs(
    union_df: DataFrame, group_cols: list[str], mode: str
) -> DataFrame:
    """Re-merge (stored ∪ batch) structures — idempotent set algebra."""
    if mode == "exact":
        return union_df.groupBy("bucket", *group_cols, "bk").agg(
            F.expr("bitmap_or_agg(s)").alias("s")
        )
    return union_df.groupBy("bucket", *group_cols).agg(
        F.expr("hll_union_agg(s)").alias("s")
    )


def continuous_distinct_rollup(
    stream: DataFrame,
    time_col: str,
    bucket_seconds: int,
    group_cols: list[str],
    id_col: str,
    rollup_path: str,
    checkpoint_dir: str,
    mode: str = "exact",
) -> S.StreamingQuery:
    """Start a query maintaining ``rollup_path`` as the per
    (bucket, *group_cols) distinct-``id_col`` structure table.

    ``mode='exact'`` requires ``id_col`` values ≥ 0 (ids are +1
    shifted into the bitmap functions' positive domain)."""
    if mode not in ("exact", "sketch"):
        raise ValueError(f"mode must be 'exact' or 'sketch', got {mode!r}")
    spark = stream.sparkSession
    store = open_store(spark, rollup_path)
    bucketed = _bucketize(stream, time_col, bucket_seconds)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        changed = _batch_structs(batch_df, group_cols, id_col, mode)
        changed = changed.localCheckpoint(eager=True)
        if changed.isEmpty():
            return
        buckets = [r.bucket for r in changed.select("bucket").distinct().collect()]
        if not store.exists():  # first batch: no table yet
            merged = changed
        else:
            touched = spark.read.parquet(rollup_path).where(F.col("bucket").isin(buckets))
            merged = _merge_structs(
                touched.unionByName(changed), group_cols, mode
            )
        merged = merged.localCheckpoint(eager=True)
        (
            merged.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(rollup_path)
        )

    return (
        bucketed.writeStream.outputMode("append")
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_distinct_rollup(
    spark: SparkSession,
    rollup_path: str,
    group_cols: list[str],
    mode: str = "exact",
) -> DataFrame:
    """Current distinct counts: (bucket, *group_cols, n_distinct).

    A caller's ``WHERE bucket ...`` prunes partitions before any
    structure is decoded; re-aggregating the structures (e.g. rolling
    hours up to days) is the same OR/union expression over a coarser
    grouping."""
    structs = spark.read.parquet(rollup_path)
    if mode == "exact":
        agg = F.expr("bitmap_count(bitmap_or_agg(s))")
    else:
        agg = F.expr("CAST(round(hll_sketch_estimate(hll_union_agg(s))) AS BIGINT)")
    return structs.groupBy("bucket", *group_cols).agg(agg.alias("n_distinct"))
