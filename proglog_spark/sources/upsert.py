"""Keyed upsert (MERGE) over a hash-bucketed parquet table.

OSS Spark-on-parquet has no ``MERGE INTO``; this module provides the
CDC-apply / dimension-refresh primitive with the cost profile a
100 TB table needs: the table is laid out as ``bucket=<b>`` partition
directories on ``pmod(xxhash64(key), n_buckets)``, so applying an
update batch rewrites ONLY the buckets containing updated keys —
cost ∝ touched buckets (≈ update-batch key spread), never table size.
Untouched buckets are not read, not shuffled, not rewritten.

Reference analog: the closest behavior is the Raft FSM re-applying a
record batch to local state (internal/log/distributed_fsm.go:25-46) —
but the reference is append-only and cannot update by key at all;
upsert is north-star pipeline surface (e.g. refreshing a document
corpus by doc_id with re-crawled pages).

Crash safety shares the checked swap step of ``LogTable._rewrite_bucket``
(``Store.swap`` in proglog_spark/log/store.py): write the merged bucket
fully into a hidden dir, swap it in with two checked renames, drop the
old; an interrupted merge is rolled back by ``recover()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proglog_spark.log.store import SUCCESS_MARKER_OPTION, open_store

BUCKET_COL = "bucket"


def _bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


class KeyedTable:
    """Hash-bucketed keyed parquet table with partial-rewrite merge."""

    # Largest update batch (rows) whose key set is broadcast for the
    # survivors anti-join. CDC batches are far below this; an unusually
    # large merge (backfill, re-crawl) must NOT force a multi-GB
    # broadcast to every executor, so above the limit the hint is
    # dropped and the join shuffles (AQE may still choose broadcast if
    # the byte size permits). Override per instance for testing.
    broadcast_row_limit: int = 1_000_000

    def __init__(self, spark: SparkSession, path: str, key_col: str, n_buckets: int):
        self.spark = spark
        self.path = path
        self._store = open_store(spark, path)
        self.key_col = key_col
        self.n_buckets = n_buckets

    # -- construction ---------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_col: str,
        n_buckets: int = 64,
    ) -> "KeyedTable":
        """Materialize ``df`` (unique per key — caller's contract) as a
        bucket-partitioned table. One shuffle-free pass: the bucket is
        a projection, and partitionBy splits files by directory."""
        (
            df.withColumn(BUCKET_COL, _bucket_expr(key_col, n_buckets))
            .write.mode("errorifexists")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
        return cls(spark, path, key_col, n_buckets)

    @classmethod
    def open(cls, spark: SparkSession, path: str, key_col: str, n_buckets: int):
        t = cls(spark, path, key_col, n_buckets)
        t.recover()
        return t

    def df(self) -> DataFrame:
        """The table as a DataFrame (bucket column included — filters
        on it prune to partition directories)."""
        return self.spark.read.option("basePath", self.path).parquet(self.path)

    # -- merge ----------------------------------------------------------

    def _anti_join_keys(self, up: DataFrame, n_updates: int) -> DataFrame:
        """The update batch's key set for the survivors anti-join —
        broadcast-hinted only while the batch is small enough that
        shipping the key set to every executor is cheaper than
        shuffling the (partition-pruned) stored buckets. Above the
        limit the hint is dropped: the join shuffles, and AQE remains
        free to re-pick broadcast from measured byte sizes."""
        keys = up.select(self.key_col)
        if n_updates <= self.broadcast_row_limit:
            keys = F.broadcast(keys)
        return keys

    def merge(self, updates: DataFrame, order_col: str | None = None) -> int:
        """Upsert: rows in ``updates`` replace same-key rows and insert
        new keys. Returns the number of buckets rewritten.

        ``order_col``: when given, replacement is ORDERED — the stored
        row survives unless the incoming row's order_col is higher
        (max_by over stored ∪ incoming per key). Without it a late
        change arriving in a later micro-batch would blindly overwrite
        newer table data with stale data; CDC callers must pass their
        sequence column unless the feed guarantees global per-key
        order.

        Atomicity is PER BUCKET (like the reference's segment-granular
        truncate, internal/log/log.go:155-171): a crash mid-swap leaves
        some buckets merged and others not, and ``recover()`` restores
        every bucket to a consistent pre- or post-merge state. Because
        upsert is idempotent, re-applying the same batch after recovery
        converges to exactly the merged state.

        Plan shape: updates are bucketed by the same hash; the touched
        bucket list (small: ≤ n_buckets ints) is the only thing
        collected. Survivors come from a partition-pruned read of ONLY
        the touched bucket dirs, anti-joined by key against the
        updates (update batches are broadcast-sized in CDC practice),
        then unioned and written partitioned-by-bucket in one job.
        """
        # a retry after a mid-swap failure must first restore any
        # moved-aside bucket — otherwise the existing-check would see
        # it missing, rebuild it from the updates alone, and the
        # unconditional aside-delete below would destroy the only copy
        # of its survivors
        self.recover()
        if order_col is None:
            # one row per key is the table invariant; without an order
            # column "latest" is undefined, so keep one arbitrary row
            # per key (pass order_col for defined semantics)
            updates = updates.dropDuplicates([self.key_col])
        else:
            # a CDC row with no sequence is malformed — dropping it
            # here also keeps max_by total below (max_by SKIPS null
            # ordering values; an all-null group would otherwise
            # collapse to a NULL row and silently delete the key)
            updates = updates.where(F.col(order_col).isNotNull())
        up = updates.withColumn(
            BUCKET_COL, _bucket_expr(self.key_col, self.n_buckets)
        )
        # one job yields both the touched-bucket list AND the batch row
        # count (which gates the anti-join broadcast below)
        bucket_counts = up.groupBy(BUCKET_COL).count().collect()
        touched = sorted(r[BUCKET_COL] for r in bucket_counts)
        n_updates = sum(r["count"] for r in bucket_counts)
        if not touched:
            return 0
        existing = [b for b in touched if self._store.exists(f"{BUCKET_COL}={b}")]
        self._store.delete(".merge-new")
        if existing:
            base = (
                self.spark.read.option("basePath", self.path)
                .parquet(*[f"{self.path}/{BUCKET_COL}={b}" for b in existing])
            )
            if order_col is None:
                keys = self._anti_join_keys(up, n_updates)
                survivors = base.join(keys, self.key_col, "left_anti")
                merged = survivors.select(up.columns).unionByName(up)
            else:
                # ordered replacement: per key keep the max-order row
                # across stored ∪ incoming (a replayed batch ties with
                # identical rows — idempotent either way)
                allr = base.select(up.columns).unionByName(up)
                others = [c for c in up.columns if c != self.key_col]
                # the ordering key is TOTAL over nulls (max_by skips
                # null ordering values — a stored row with a null
                # order, e.g. from a pre-CDC insert, must survive when
                # it is the key's only row, and lose to any sequenced
                # change): (isNotNull, value) struct ordering
                ord_key = F.struct(
                    F.col(order_col).isNotNull().cast("int").alias("has"),
                    F.col(order_col).alias("v"),
                )
                merged = (
                    allr.groupBy(self.key_col)
                    .agg(F.max_by(F.struct(*others), ord_key).alias("_row"))
                    .select(
                        self.key_col,
                        *[F.col(f"_row.{c}").alias(c) for c in others],
                    )
                )
        else:
            merged = up
        (
            merged.write.mode("overwrite")
            .option(SUCCESS_MARKER_OPTION, "false")
            .partitionBy(BUCKET_COL)
            .parquet(f"{self.path}/.merge-new")
        )
        # swap each touched bucket; a failed rename raises rather than
        # reporting success with the merged bucket discarded, and the
        # retry's recover() rolls back any prefix of the sequence
        for b in touched:
            new = f".merge-new/{BUCKET_COL}={b}"
            if self._store.exists(new):  # else all its updates dropped
                self._store.swap(f"{BUCKET_COL}={b}", new, f".merge-old-{b}")
        self._store.delete(".merge-new")
        return len(touched)

    def recover(self) -> None:
        """Finish or roll back an interrupted merge: a bucket moved
        aside with no live replacement is restored; stale aside/new
        dirs are dropped (their merge never swapped in)."""
        names = {name for name, _ in self._store.list()}
        for name in sorted(names):
            if name.startswith(".merge-old-"):
                live = f"{BUCKET_COL}={name.rsplit('-', 1)[1]}"
                if live in names:
                    self._store.delete(name)
                else:
                    self._store.rename(name, live)
        # a leftover .merge-new root is safe to drop: swaps that
        # happened are durable; the rest re-derive from base + updates
        self._store.delete(".merge-new")
