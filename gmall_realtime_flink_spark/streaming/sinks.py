"""Streaming sinks (SURVEY §2.1 S2/S3/S5/S7, §2.4 R1 multi-sink half).

The reference's sink matrix — fixed-topic Kafka (S2), dynamic-topic
Kafka keyed on a per-record `sink_table` field (S3,
RT/utils/MyKafkaUtil.java:38-45), Phoenix dim upserts (S5,
RT/app/func/DimSink.java:25-92), ClickHouse batched appends (S7,
RT/utils/ClickHouseUtil.java:27-78) — collapses onto two Spark
primitives:

- **append**: `writeStream.foreachBatch` + `write.parquet` (or
  `format("kafka")` with a `topic` column, which natively gives the
  dynamic-topic routing of S3);
- **upsert**: `foreachBatch` + MERGE-style rewrite keyed on the pk
  (Delta `MERGE INTO` in production; a read-union-dedup rewrite over
  parquet here, same semantics, since Delta isn't in this container).

R1's "3 sinks, one scan": `partitionBy(route_col)` at write time
splits output directories in a single pass with **zero shuffle** —
each task writes its rows to per-route files directly.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

BatchSink = Callable[[DataFrame, int], None]


def route_writer(base_dir: str, route_col: str = "sink_table") -> BatchSink:
    """R1/S3: one-pass multi-sink — micro-batch rows land under
    `base_dir/<route_col>=<value>/` (the file analogue of the
    per-record dynamic Kafka topic, BaseDBApp.java:96-113)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.partitionBy(route_col)
            .mode("append")
            .parquet(base_dir)
        )

    return write


def append_writer(path: str) -> BatchSink:
    """S7: result-table append sink (ClickHouse analogue)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    return write


def parquet_upsert(
    spark: SparkSession, path: str, updates: DataFrame, pk: Sequence[str]
) -> None:
    """S5: MERGE-keyed-on-pk upsert semantics over a parquet dim table
    (DimSink.java:43-78 upsert; Delta `MERGE INTO` in production).

    Last-writer-wins per pk within `updates`, updates beat existing
    rows. The rewrite cost is |dim|, acceptable because dims are small
    by design (broadcastable); big mutable tables belong in Delta/
    Iceberg where MERGE rewrites only matching files.

    Crash safety (the non-Delta fallback): the merged table is written
    ONCE to a scratch directory, then swapped into place by directory
    rename — metadata-only, so a crash leaves either the old table or
    the new one, never a half-deleted dim (an overwrite-in-place of
    `path` would also hit Spark's read-while-overwrite FAILED_READ_FILE
    trap, since the merged plan lazily scans `path` itself).
    """
    import shutil

    updates = updates.withColumn("__gen", F.lit(1))
    if os.path.isdir(path):
        existing = spark.read.parquet(path).withColumn("__gen", F.lit(0))
        merged = existing.unionByName(updates)
    else:
        merged = updates
    w = Window.partitionBy(*pk).orderBy(F.col("__gen").desc())
    dedup = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__gen")
    )
    tmp = path.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # leaked scratch from a crash
    dedup.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def dim_upsert_writer(
    spark: SparkSession,
    base_dir: str,
    pk: Sequence[str],
    table_col: str = "sink_table",
) -> BatchSink:
    """S5 + R2 dim half: route each micro-batch's rows to per-dim-table
    upserts (the loop over distinct sink tables mirrors DimSink's
    per-record Phoenix upserts, batched)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            tables = [
                r[0] for r in batch_df.select(table_col).distinct().collect()
            ]
            for t in tables:
                parquet_upsert(
                    spark,
                    os.path.join(base_dir, t),
                    batch_df.filter(F.col(table_col) == t).drop(table_col),
                    pk,
                )
        finally:
            batch_df.unpersist()

    return write


# Crash-injection seam of every idempotent_batch_writer sink: when set,
# called with (base_dir, batch_id) AFTER the batch's parquet commit and
# BEFORE the writer returns — inside the at-least-once window where the
# data is durable but the source offset is not yet committed. Raising
# here is exactly the crash the batch_id overwrite exists for. Never
# set outside tests.
FAULT_AFTER_WRITE = None


def idempotent_batch_writer(base_dir: str) -> BatchSink:
    """Exactly-once file sink: each micro-batch lands in its own
    `batch_id=<n>` directory with mode("overwrite"), so a reader of
    `base_dir` sees `batch_id` as a hive partition column.

    This is the Spark EOS recipe for foreachBatch (the analogue of the
    reference's transactional dynamic-topic producer,
    RT/utils/MyKafkaUtil.java:38-45): the checkpoint makes the batch id
    a stable function of the source offsets, and the overwrite makes
    redelivery idempotent — a batch replayed after a crash/restart
    rewrites its own directory instead of appending duplicates.
    At-least-once delivery + idempotent keyed write = exactly-once
    output.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(base_dir, f"batch_id={batch_id}")
        )
        if FAULT_AFTER_WRITE is not None:
            FAULT_AFTER_WRITE(base_dir, batch_id)

    return write


def scd2_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    pk: Sequence[str],
    ts_col: str,
) -> None:
    """S5 extension: slowly-changing-dimension TYPE 2 upsert — instead
    of overwriting a changed dim row (parquet_upsert's type-1
    semantics), the current version is CLOSED (`__end` stamped with the
    new version's event time, `__current` = false) and the new version
    appended open-ended. The full history of every dim row stays
    queryable (the batch `user_dim_scd2` query derives the same shape
    from order history).

    Update rows = the dim's natural columns + `ts_col` (event time of
    the change). Last-writer-wins per pk WITHIN the batch; a version
    equal to the current one still appends (change detection is the
    caller's concern — CDC feeds emit on change). ACROSS batches the
    merge is monotonic per pk: an update whose event time is OLDER
    than the open version's `__start` (late cross-batch arrival) is
    dropped rather than applied — applying it would close the current
    row backwards (`__end` < `__start`) and promote a stale record to
    'current'. Same atomic tmp-write + directory-swap crash posture as
    parquet_upsert.
    """
    import shutil

    from pyspark.sql import Window

    w = Window.partitionBy(*pk).orderBy(F.col(ts_col).desc())
    latest = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if os.path.isdir(path):
        # Monotonicity gate: drop updates older than the pk's open
        # version — they arrived out of order across micro-batches and
        # would otherwise invert the history (__end < __start).
        cur = spark.read.parquet(path).filter(F.col("__current")).select(
            *[F.col(c).alias(f"__cur_{c}") for c in pk],
            F.col("__start").alias("__cur_start"),
        )
        gate = F.lit(True)
        for c in pk:
            gate = gate & (F.col(c) == F.col(f"__cur_{c}"))
        latest = (
            latest.join(F.broadcast(cur), on=gate, how="left")
            .filter(
                F.col("__cur_start").isNull()
                | (F.col(ts_col) >= F.col("__cur_start"))
            )
            .drop("__cur_start", *[f"__cur_{c}" for c in pk])
        )
    new_rows = (
        latest.withColumn("__start", F.col(ts_col))
        .withColumn("__end", F.lit(None).cast("timestamp"))
        .withColumn("__current", F.lit(True))
        .drop(ts_col)
    )
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        closer = latest.select(
            *[F.col(c).alias(f"__new_{c}") for c in pk],
            F.col(ts_col).alias("__new_start"),
        )
        cond = F.lit(True)
        for c in pk:
            cond = cond & (F.col(c) == F.col(f"__new_{c}"))
        closed = (
            existing.join(F.broadcast(closer), on=cond, how="left")
            .withColumn(
                "__end",
                F.when(
                    F.col("__current") & F.col("__new_start").isNotNull(),
                    F.col("__new_start"),
                ).otherwise(F.col("__end")),
            )
            .withColumn(
                "__current",
                F.when(F.col("__new_start").isNotNull(), F.lit(False))
                .otherwise(F.col("__current")),
            )
            .drop("__new_start", *[f"__new_{c}" for c in pk])
        )
        merged = closed.unionByName(new_rows)
    else:
        merged = new_rows
    tmp = path.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def scd2_upsert_writer(
    spark: SparkSession, path: str, pk: Sequence[str], ts_col: str
) -> BatchSink:
    """foreachBatch wrapper: each micro-batch of CDC rows lands as a
    new dim version generation."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scd2_upsert(spark, path, batch_df, pk, ts_col)

    return write
