"""Storage layout, verified at the filesystem level: schema evolution,
backfill overwrites and the bucketed-table cache of warehouse tables."""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load


def test_dim_schema_evolution_merge(spark, sf_dir, tmp_path):
    """A dim table written before a column was added still reads with
    the evolved schema: mergeSchema unifies old and new parquet
    footers, old rows surface NULL for the new column — the CDC dim
    upsert path survives upstream DDL without a rewrite."""
    dst = str(tmp_path / "dim_user")
    v1 = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "user_id BIGINT, name STRING"
    )
    v1.write.parquet(dst)
    v2 = spark.createDataFrame(
        [(3, "carol", "NATION_7")],
        "user_id BIGINT, name STRING, nation STRING",
    )
    v2.write.mode("append").parquet(dst)

    merged = spark.read.option("mergeSchema", "true").parquet(dst)
    assert set(merged.columns) == {"user_id", "name", "nation"}
    rows = {r["user_id"]: r["nation"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "NATION_7"}


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Backfill idempotency: with dynamic partitionOverwriteMode, a
    re-run of one day's job overwrites ONLY that day's partition —
    other days' data survives (static mode would truncate the table)."""
    dst = str(tmp_path / "facts")
    events = load(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    days = [r["dt"] for r in events.select("dt").distinct().limit(2).collect()]
    if len(days) < 2:
        import pytest

        pytest.skip("single-day testdata can't exercise cross-day survival")
    d1, d2 = sorted(days)
    events.filter(F.col("dt").isin(d1, d2)).write.partitionBy("dt").parquet(dst)
    before_d2 = spark.read.parquet(dst).filter(F.col("dt") == d2).count()

    with_conf = spark.conf
    old = with_conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    with_conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # backfill day 1 with half its rows (simulates a corrected re-run)
        redo = events.filter(
            (F.col("dt") == d1) & (F.col("event_id") % 2 == 0)
        )
        redo_ct = redo.count()
        redo.write.mode("overwrite").partitionBy("dt").parquet(dst)
    finally:
        with_conf.set("spark.sql.sources.partitionOverwriteMode", old)

    after = spark.read.parquet(dst)
    assert after.filter(F.col("dt") == d1).count() == redo_ct
    assert after.filter(F.col("dt") == d2).count() == before_d2


@pytest.fixture
def drop_new_tables(spark):
    """The bucketed tables a test builds over a tmp corpus are keyed on
    its path, so no later run reuses them: remove what the test added
    to the warehouse dir. Each new table is dropped from the catalog
    and its dir and fingerprint marker are deleted. The test calls it
    last and gets back the entries still new (none); teardown calls it
    again, so a failing test leaves nothing behind either."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def entries() -> set[str]:
        return set(os.listdir(wh)) if os.path.isdir(wh) else set()

    before = entries()

    def drop() -> set[str]:
        for entry in entries() - before:
            path = os.path.join(wh, entry)
            if entry.endswith(".fingerprint.json"):
                os.remove(path)
            else:
                spark.sql(f"DROP TABLE IF EXISTS `{entry}`")
                shutil.rmtree(path, ignore_errors=True)
        return entries() - before

    yield drop
    drop()


def test_bucketed_table_rebuilds_on_stale_fingerprint(
    spark, tmp_path, drop_new_tables
):
    """catalog.bucketed_table must detect a CHANGED source file (size/
    mtime fingerprint) and rebuild instead of serving the stale
    layout; unchanged sources reuse files without rewriting."""
    import time

    from gmall_realtime_flink_spark.catalog import bucketed_table

    sf = str(tmp_path)
    spark.range(100).select(
        F.col("id").alias("l_partkey"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    part = next((tmp_path / "stage").glob("part-*.parquet"))
    shutil.copy(part, tmp_path / "lineitem.parquet")

    t = bucketed_table(spark, sf, "lineitem", ("l_partkey",), n_buckets=4)
    assert t.count() == 100

    # same fingerprint -> reuse (no rebuild): table still resolves
    t2 = bucketed_table(spark, sf, "lineitem", ("l_partkey",), n_buckets=4)
    assert t2.count() == 100

    # mutate the source -> fingerprint changes -> rebuild sees new data
    time.sleep(0.05)
    spark.range(50).select(
        F.col("id").alias("l_partkey"), (F.col("id") * 3).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage2"))
    part2 = next((tmp_path / "stage2").glob("part-*.parquet"))
    shutil.copy(part2, tmp_path / "lineitem.parquet")
    t3 = bucketed_table(spark, sf, "lineitem", ("l_partkey",), n_buckets=4)
    assert t3.count() == 50
    assert drop_new_tables() == set()


def test_bucketed_table_specs_coexist(spark, tmp_path, drop_new_tables):
    """Two DIFFERENT bucketing specs of the same table must land in
    distinct tables (bucket_cols is part of the key — ADVICE r9:
    otherwise alternating callers thrash a full drop-and-rewrite per
    call because the shared fingerprint never matches both specs)."""
    from gmall_realtime_flink_spark.catalog import bucketed_table

    sf = str(tmp_path)
    spark.range(60).select(
        F.col("id").alias("l_partkey"), (F.col("id") % 7).alias("l_suppkey")
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    part = next((tmp_path / "stage").glob("part-*.parquet"))
    shutil.copy(part, tmp_path / "lineitem.parquet")

    by_part = bucketed_table(spark, sf, "lineitem", ("l_partkey",), 4)
    by_supp = bucketed_table(spark, sf, "lineitem", ("l_suppkey",), 4)
    assert by_part.count() == 60 and by_supp.count() == 60

    # alternate back: the first spec's table must still be current
    # (reuse, not a rebuild) — its files were never clobbered. Only
    # the two tables built here: the warehouse dir may hold others.
    mtimes_before = {
        f: os.path.getmtime(f)
        for f in (
            urlparse(u).path
            for u in by_part.inputFiles() + by_supp.inputFiles()
        )
    }
    assert mtimes_before, "expected bucketed files on disk"
    again = bucketed_table(spark, sf, "lineitem", ("l_partkey",), 4)
    assert again.count() == 60
    for f, m in mtimes_before.items():
        assert os.path.getmtime(f) == m, f"rebuild thrash on {f}"
    assert drop_new_tables() == set()
