"""Batch/streaming parity for the stateful trio (ST1/ST2/ST3).

The promise in operators/stateful.py: the applyInPandasWithState
streaming form equals the batch window-function form on bounded input.
Asserted two ways:

1. single micro-batch (whole events table in one trigger);
2. three chronological micro-batches (`maxFilesPerTrigger=1` over a
   time-split of the table) — state must survive and compose across
   batches, which is where naive implementations break.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load
from gmall_realtime_flink_spark.operators.stateful import (
    jump_detect,
    repair_is_new,
    uv_dedup,
)
from gmall_realtime_flink_spark.streaming import jobs
from gmall_realtime_flink_spark.streaming.source import stream_events
from gmall_realtime_flink_spark.streaming.state import (
    jump_detect_stream,
    repair_is_new_stream,
    uv_dedup_stream,
)

GAP_MS = 600_000


def rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _events_sorted_native(sf_dir):
    """events table sorted by ts in its NATIVE physical layout (the
    driver has generated both nanos-long and timestamp[us] files),
    plus (ns-per-unit multiplier, max event time in ns, ts arrow type).
    Fixtures must write derived files in the native type — a fixed
    int64 cast silently re-labels microseconds as nanoseconds."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    ts_type = t["ts"].type
    if pa.types.is_timestamp(ts_type):
        mul = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[ts_type.unit]
    else:
        mul = 1
    max_ns = max(t["ts"].cast("int64").to_pylist()) * mul
    return t, mul, max_ns, ts_type


@pytest.fixture(scope="module")
def split_events_dir(sf_dir):
    """(dir, cutoff): events table sorted by ts, split into 3
    chronological parquet files + far-future sentinel rows (one per
    event type — a filtered branch's pushed-down scan predicate would
    skip a lone unmatched-type sentinel *below* the watermark operator,
    leaving the final window forever open). `cutoff` is an stt string
    separating real windows from sentinel windows."""
    import pandas as pd

    t, _mul, max_ns, ts_type = _events_sorted_native(sf_dir)
    tmp = tempfile.mkdtemp(prefix="events_split_")
    n = t.num_rows
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        pq.write_table(t.slice(lo, hi - lo), os.path.join(tmp, f"part-{i:03d}.parquet"))
    jobs.write_sentinel_file(
        os.path.join(tmp, "part-999-sentinel.parquet"),
        max_ns + 2 * 86_400_000_000_000,  # +2 days
        ts_type=ts_type,
    )
    # the file source takes files oldest-first by mtime; back-to-back
    # writes can share a millisecond, and then listing order (hash
    # order here) decides, so stamp the chronological order explicitly
    for i, f in enumerate(sorted(os.listdir(tmp))):
        os.utime(os.path.join(tmp, f), (1_700_000_000 + i * 10,) * 2)
    cutoff = pd.Timestamp(max_ns + 3_600_000_000_000, unit="ns").strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    return tmp, cutoff


# -- single micro-batch parity ------------------------------------------------


def test_repair_parity(spark, sf_dir):
    got = jobs.streaming_visitor_repair(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    want = repair_is_new(events, key="user_id", ts_col="ts").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("visit_date"),
        "is_new",
    )
    cols = ["event_id", "user_id", "visit_date", "is_new"]
    assert rows(got, cols) == rows(want, cols)


def test_uv_parity(spark, sf_dir):
    got = jobs.streaming_unique_visit(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    want = uv_dedup(events, key="user_id", ts_col="ts").select(
        "user_id", "visit_date", "first_ts"
    )
    cols = ["user_id", "visit_date", "first_ts"]
    assert rows(got, cols) == rows(want, cols)


def test_jump_parity(spark, sf_dir):
    got = jobs.streaming_user_jump(spark, sf_dir, gap_ms=GAP_MS)
    events = load(spark, sf_dir, "events")
    want = jump_detect(events, key="user_id", ts_col="ts", gap_ms=GAP_MS).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("jump_ts"),
    )
    cols = ["event_id", "user_id", "jump_ts"]
    assert rows(got, cols) == rows(want, cols)


def test_interval_join_streaming_parity(spark, sf_dir):
    """ST4/J1: the stream-stream interval join equals the batch
    interval_join operator on bounded input."""
    from gmall_realtime_flink_spark.operators.joins import interval_join

    got = jobs.streaming_view_click_join(spark, sf_dir, window="2 days")
    events = load(spark, sf_dir, "events")
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    want = interval_join(
        v,
        c,
        on=F.col("v_user") == F.col("c_user"),
        left_ts=F.col("v_ts"),
        right_ts=F.col("c_ts"),
        lower="0 seconds",
        upper="2 days",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )
    cols = ["user_id", "view_id", "click_id", "view_ts", "click_ts"]
    assert rows(got, cols) == rows(want, cols)


# -- multi-micro-batch parity (state survives across triggers) ----------------


def test_repair_parity_multibatch(spark, sf_dir, split_events_dir):
    events = stream_events(spark, split_events_dir[0], max_files_per_trigger=1)
    got = jobs.run_bounded(
        repair_is_new_stream(events, key="user_id"), spark
    ).filter(F.col("user_id") >= 0)
    batch = load(spark, sf_dir, "events")
    want = repair_is_new(batch, key="user_id", ts_col="ts").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("visit_date"),
        "is_new",
    )
    cols = ["event_id", "user_id", "visit_date", "is_new"]
    assert rows(got, cols) == rows(want, cols)


def test_uv_parity_multibatch(spark, sf_dir, split_events_dir):
    events = stream_events(spark, split_events_dir[0], max_files_per_trigger=1)
    got = jobs.run_bounded(uv_dedup_stream(events, key="user_id"), spark).filter(
        F.col("user_id") >= 0
    )
    batch = load(spark, sf_dir, "events")
    want = uv_dedup(batch, key="user_id", ts_col="ts").select(
        "user_id", "visit_date", "first_ts"
    )
    cols = ["user_id", "visit_date", "first_ts"]
    assert rows(got, cols) == rows(want, cols)


def test_windowed_agg_streaming_parity(spark, sf_dir, split_events_dir):
    """A1/A2/W3 under streaming: watermark + append-mode tumbling window
    equals the batch window agg once every window is closed (the
    sentinel pushes the watermark past all real windows)."""
    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    events = stream_events(spark, split_events_dir[0], max_files_per_trigger=1)
    agg = tumble_agg(
        events,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("pv_ct")],
    )
    got = jobs.run_bounded(agg, spark).filter(F.col("stt") < split_events_dir[1])
    batch = load(spark, sf_dir, "events")
    want = tumble_agg(
        batch,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("pv_ct")],
    )
    cols = ["stt", "edt", "event_type", "pv_ct"]
    assert rows(got, cols) == rows(want, cols)


def test_union_pipeline_streaming_parity(spark, sf_dir, split_events_dir):
    """U1 under streaming: the full ProductStats union pipeline (5
    skeleton branches -> unionByName -> keyed tumble agg) on a
    watermarked multi-batch stream equals the batch run."""
    from gmall_realtime_flink_spark.plans.gmall import product_stats_union_core

    events = stream_events(spark, split_events_dir[0], max_files_per_trigger=1)
    got = jobs.run_bounded(product_stats_union_core(events), spark).filter(
        F.col("sku_id").isNotNull() & (F.col("stt") < split_events_dir[1])
    )
    want = product_stats_union_core(load(spark, sf_dir, "events"))
    cols = [
        "stt", "edt", "sku_id", "click_ct", "display_ct", "favor_ct",
        "order_ct", "refund_ct", "order_amount",
    ]
    assert rows(got, cols) == rows(want, cols)


def test_streaming_distinct_collect_set(spark, sf_dir, split_events_dir):
    """A3 streaming-safe distinct counting: size(collect_set(id)) in a
    streaming window agg equals batch countDistinct (exact
    countDistinct is unsupported on streaming aggregations)."""
    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    events = stream_events(spark, split_events_dir[0], max_files_per_trigger=1)
    agg = tumble_agg(
        events,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[F.size(F.collect_set("user_id")).alias("uv_ct")],
    )
    got = jobs.run_bounded(agg, spark).filter(F.col("stt") < split_events_dir[1])
    batch = load(spark, sf_dir, "events")
    want = tumble_agg(
        batch,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[F.countDistinct("user_id").alias("uv_ct")],
    )
    cols = ["stt", "edt", "event_type", "uv_ct"]
    assert rows(got, cols) == rows(want, cols)


def test_layer_chained_streaming_dag(spark, sf_dir):
    """The reference's warehouse topology: independent streaming apps
    chained through a durable layer boundary (Kafka topic there, a
    parquet directory here). Stage 1 = UniqueVisitApp (ST2 stateful
    dedup) writing the DWM layer via foreachBatch; stage 2 = a DWS app
    streaming *from that layer* into a daily-UV windowed aggregate.
    End-to-end result must equal the single batch computation."""
    import uuid

    from pyspark.sql import types as T
    from gmall_realtime_flink_spark.operators.stateful import uv_dedup
    from gmall_realtime_flink_spark.operators.windows import tumble_agg
    from gmall_realtime_flink_spark.streaming.sinks import append_writer
    from gmall_realtime_flink_spark.streaming.state import uv_dedup_stream

    # stage 1: events stream -> ST2 dedup -> DWM parquet layer; the
    # stream ends in the far-future sentinel that closes the last day
    # (the sentinel's own day never closes, so it emits no row)
    dwm = os.path.join(tempfile.mkdtemp(prefix="dwm_"), "dwm_unique_visit")
    events = stream_events(spark, jobs.events_with_sentinel(spark, sf_dir, 0))
    q1 = (
        uv_dedup_stream(events, key="user_id")
        .writeStream.foreachBatch(append_writer(dwm))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    # sentinel row in the DWM layer so stage 2's final window closes
    import pyarrow as pa
    import pyarrow.parquet as pq2

    pq2.write_table(
        pa.table(
            {
                "user_id": pa.array([-1], pa.int64()),
                "visit_date": pa.array(["2030-01-01"], pa.string()),
                "first_ts": pa.array(["2030-01-01 00:00:00"], pa.string()),
            }
        ),
        os.path.join(dwm, "part-sentinel.parquet"),
    )

    # stage 2: DWM layer as a stream -> daily UV window agg
    dwm_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("visit_date", T.StringType()),
            T.StructField("first_ts", T.StringType()),
        ]
    )
    uv_stream = (
        spark.readStream.schema(dwm_schema)
        .parquet(dwm)
        .withColumn("ts", F.to_timestamp("first_ts"))
        .withWatermark("ts", "0 seconds")
    )
    agg = tumble_agg(
        uv_stream,
        ts_col="ts",
        duration="1 day",
        keys=[],
        aggs=[F.count(F.lit(1)).alias("uv_ct")],
    )
    got = jobs.run_bounded(agg, spark).filter(F.col("stt") < "2030-01-01")

    batch = load(spark, sf_dir, "events")
    want = tumble_agg(
        uv_dedup(batch, key="user_id", ts_col="ts").withColumn(
            "ts", F.to_timestamp("first_ts")
        ),
        ts_col="ts",
        duration="1 day",
        keys=[],
        aggs=[F.count(F.lit(1)).alias("uv_ct")],
    )
    cols = ["stt", "edt", "uv_ct"]
    assert rows(got, cols) == rows(want, cols)


def test_late_data_dropped_by_watermark(spark, sf_dir):
    """W6: rows behind the watermark are dropped (the reference's
    no-allowedLateness policy).

    Spark ≥3.4 subtlety (found empirically): stateful operators filter
    late input against the PREVIOUS batch's watermark and evict state
    with the current one — so data one batch late still slips in. The
    middle third here arrives two watermark advances after the newest
    third (an intermediate sentinel batch moves the late-filter
    watermark past it), so every middle-third row must drop."""
    import pandas as pd
    import uuid

    t, mul, _max_ns, ts_type = _events_sorted_native(sf_dir)
    n = t.num_rows
    f1, f3, f2 = (
        t.slice(0, n // 3),
        t.slice(n // 3, (2 * n) // 3 - n // 3),
        t.slice((2 * n) // 3),
    )
    tmp = tempfile.mkdtemp(prefix="events_late_")
    max2_ns = max(f2["ts"].cast("int64").to_pylist()) * mul
    s1 = os.path.join(tmp, "part-002-sentinel1.parquet")
    s2 = os.path.join(tmp, "part-004-sentinel2.parquet")
    parts = [
        (os.path.join(tmp, "part-000.parquet"), f1),
        (os.path.join(tmp, "part-001.parquet"), f2),
        (s1, None),  # advances the late-filter watermark past f3
        (os.path.join(tmp, "part-003.parquet"), f3),
        (s2, None),  # closes remaining windows
    ]
    for i, (p, part) in enumerate(parts):
        if part is None:
            jobs.write_sentinel_file(
                p,
                max2_ns + (1 + parts.index((p, None))) * 3_600_000_000_000,
                ts_type=ts_type,
            )
        else:
            pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    events = stream_events(spark, tmp, max_files_per_trigger=1)
    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    agg = tumble_agg(
        events,
        ts_col="ts",
        duration="10 seconds",
        keys=[],
        aggs=[F.count(F.lit(1)).alias("ct")],
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cutoff = pd.Timestamp(max2_ns + 1_800_000_000_000, unit="ns").strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    got = spark.table(name).filter(F.col("stt") < cutoff)

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    # the output equality below is the semantic check; the progress
    # metric undercounts by one row in this Spark build, so only bound it
    assert dropped >= f3.num_rows - 1

    exp = {}
    for ts_raw in pa.concat_tables([f1, f2])["ts"].cast("int64").to_pylist():
        stt = pd.Timestamp(ts_raw * mul, unit="ns").floor("10s").strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        exp[stt] = exp.get(stt, 0) + 1
    got_map = {r["stt"]: r["ct"] for r in got.collect()}
    assert got_map == exp


def test_jump_parity_multibatch(spark, sf_dir, split_events_dir):
    events = stream_events(spark, split_events_dir[0], max_files_per_trigger=1)
    got = jobs.run_bounded(
        jump_detect_stream(events, key="user_id", gap_ms=GAP_MS), spark
    ).filter(F.col("user_id") >= 0)
    batch = load(spark, sf_dir, "events")
    want = jump_detect(batch, key="user_id", ts_col="ts", gap_ms=GAP_MS).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("jump_ts"),
    )
    cols = ["event_id", "user_id", "jump_ts"]
    assert rows(got, cols) == rows(want, cols)


def _split_fact_dir(sf_dir: str, table: str, n_files: int) -> str:
    """`table` sorted by its event time and split into `n_files`
    parquet files plus the key -1 far-future sentinel, with explicit
    increasing mtimes so the file source takes them in time order."""
    ts_col = jobs.FACT_SENTINEL_COLS[table][1]
    t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet")).sort_by(ts_col)
    out = tempfile.mkdtemp(prefix=f"{table}_split_")
    per = -(-t.num_rows // n_files)
    paths = []
    for k in range(n_files):
        paths.append(os.path.join(out, f"part-{k:03d}.parquet"))
        pq.write_table(t.slice(k * per, per), paths[-1])
    paths.append(os.path.join(out, "part-999-sentinel.parquet"))
    jobs._write_fact_sentinel(sf_dir, table, -1, paths[-1])
    for i, p in enumerate(paths):
        os.utime(p, (1_700_000_000 + i * 10,) * 2)
    return out


def test_order_wide_parity_multibatch(spark, sf_dir):
    """J1 across triggers: orders and lineitem each arrive as 4
    event-time-ordered files, one per trigger, so the interval join
    buffers rows in state and matches them against later batches while
    the watermarks evict the rest. The result equals the batch
    `order_wide` entry."""
    from gmall_realtime_flink_spark.plans.registry import REGISTRY

    dirs = [_split_fact_dir(sf_dir, t, 4) for t in ("orders", "lineitem")]
    orders, lineitem = (
        spark.readStream.schema(jobs.warehouse_stream_schema(spark, sf_dir, t))
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        for t, d in zip(("orders", "lineitem"), dirs)
    )
    got = jobs.run_bounded(
        jobs.order_wide(orders, lineitem), spark, inputs=dirs
    ).filter(F.col("o_orderkey") >= 0)
    want = REGISTRY["order_wide"].builder(spark, sf_dir)
    assert want.count() > 0
    assert rows(got, want.columns) == rows(want, want.columns)


def test_basedb_streaming_dag_route_sinks_agg(spark, sf_dir, split_events_dir):
    """The full BaseDBApp topology (RT/app/dwd/BaseDBApp.java:76-113)
    run as ONE streaming DAG, multi-batch: CDC stream -> ETL filter ->
    bootstrap-insert normalize -> config-table routing (S8/R2/P6) ->
    a single foreachBatch that writes fact rows per-sink_table
    (route_writer, the dynamic-topic S3 analogue) AND dim rows through
    keyed upserts (dim_upsert_writer, S5) -> a downstream DWS app
    streams the dwd_page_log fact directory into a windowed aggregate.
    The end-to-end result must equal the batch composition of the same
    operators."""
    import uuid

    from pyspark.sql import types as T
    from gmall_realtime_flink_spark.operators.routing import (
        etl_filter,
        normalize_cdc_type,
        route_with_config,
    )
    from gmall_realtime_flink_spark.operators.windows import tumble_agg
    from gmall_realtime_flink_spark.streaming.sinks import (
        dim_upsert_writer,
        route_writer,
    )

    split_dir, cutoff = split_events_dir
    config = spark.createDataFrame(
        [
            ("view", "insert", "dwd_page_log", "k"),
            ("click", "insert", "dwd_display_log", "k"),
            ("signup", "update", "dim_user_info", ""),
            ("purchase", "insert", "dwd_order_info", "k"),
        ],
        ["source_table", "operate_type", "sink_table", "sink_columns"],
    )

    def dwd_route(df):
        src = etl_filter(
            df, required=["props"], min_len_col="props", min_len=3
        ).withColumn(
            "op",
            F.when(F.col("event_type") == "view", "insert")
            .when(F.col("event_type") == "click", "bootstrap-insert")
            .when(F.col("event_type") == "signup", "update")
            .when(F.col("event_type") == "purchase", "insert")
            .otherwise("delete"),
        )
        src = normalize_cdc_type(src, type_col="op")
        r = route_with_config(
            src, config, source_col="event_type", type_col="op"
        )
        return r.select("event_id", "user_id", "ts", "event_type", "sink_table")

    base = tempfile.mkdtemp(prefix="basedb_")
    fact_dir = os.path.join(base, "facts")
    dim_dir = os.path.join(base, "dims")
    write_facts = route_writer(fact_dir)
    write_dims = dim_upsert_writer(spark, dim_dir, pk=["user_id"])

    def sink(batch_df, batch_id):
        batch_df.persist()
        try:
            write_facts(
                batch_df.filter(~F.col("sink_table").startswith("dim_")),
                batch_id,
            )
            dims = batch_df.filter(F.col("sink_table").startswith("dim_"))
            write_dims(dims.select("user_id", "event_id", "sink_table"), batch_id)
        finally:
            batch_df.unpersist()

    # stage 1, multi-batch (maxFilesPerTrigger=1 -> 4 micro-batches:
    # dim upserts must compose across batches)
    events = stream_events(spark, split_dir, max_files_per_trigger=1)
    q1 = (
        dwd_route(events)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    # all three fact routes landed as directories of one partitioned write
    routes = {
        d.split("=", 1)[1]
        for d in os.listdir(fact_dir)
        if d.startswith("sink_table=")
    }
    assert routes == {"dwd_page_log", "dwd_display_log", "dwd_order_info"}

    # dim layer: exactly one row per signup user (keyed upsert wins)
    batch_events = load(spark, sf_dir, "events")
    want_users = {
        r[0]
        for r in dwd_route(batch_events)
        .filter(F.col("sink_table") == "dim_user_info")
        .select("user_id")
        .distinct()
        .collect()
    }
    dim = spark.read.parquet(os.path.join(dim_dir, "dim_user_info"))
    # user_id -1 is the watermark sentinel (valid props by design, so
    # it flows the whole DAG); exclude harness rows from the compare
    got_users = [
        r[0] for r in dim.select("user_id").filter("user_id >= 0").collect()
    ]
    assert sorted(set(got_users)) == sorted(want_users)
    assert len(got_users) == len(set(got_users)), "dim upsert kept duplicates"

    # stage 2: the dwd_page_log fact dir feeds a downstream DWS
    # windowed agg as a *stream* (sentinel closes the last window)
    pl_dir = os.path.join(fact_dir, "sink_table=dwd_page_log")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "user_id": pa.array([-1], pa.int64()),
                "ts": pa.array(
                    [pa.scalar(jobs.SENTINEL_TS_NS // 1000, pa.timestamp("us"))]
                ),
                "event_type": pa.array(["view"], pa.string()),
            }
        ),
        os.path.join(pl_dir, "part-sentinel.parquet"),
    )
    pl_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    pl_stream = (
        spark.readStream.schema(pl_schema)
        .parquet(pl_dir)
        .withWatermark("ts", "0 seconds")
    )
    agg = tumble_agg(
        pl_stream,
        ts_col="ts",
        duration="10 seconds",
        keys=[],
        aggs=[F.count(F.lit(1)).alias("pv_ct")],
    )
    got = jobs.run_bounded(agg, spark).filter(F.col("stt") < cutoff)

    want = tumble_agg(
        dwd_route(batch_events).filter(
            F.col("sink_table") == "dwd_page_log"
        ),
        ts_col="ts",
        duration="10 seconds",
        keys=[],
        aggs=[F.count(F.lit(1)).alias("pv_ct")],
    )
    cols = ["stt", "edt", "pv_ct"]
    assert rows(got, cols) == rows(want, cols)


def test_route_config_reload_between_batches(spark, sf_dir):
    """S8 dynamic half (Flink BroadcastProcessFunction semantics): the
    routing config changes between micro-batches and the NEXT batch
    routes by the new rules — config v1 routes 'view' events only;
    after batch 0 the config swaps to v2 ('view' retargeted + 'click'
    newly routable); batch 1's events must follow v2."""
    import pandas as pd

    t, _mul, _max_ns, _ts_type = _events_sorted_native(sf_dir)
    n = t.num_rows
    events_dir = tempfile.mkdtemp(prefix="events_cfgreload_")
    for i, sl in enumerate((t.slice(0, n // 2), t.slice(n // 2))):
        p = os.path.join(events_dir, f"part-{i:03d}.parquet")
        pq.write_table(sl, p)
        # pin arrival order: same-second mtimes under load let the file
        # source batch or reorder the two files (observed flake)
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    cfg_dir = tempfile.mkdtemp(prefix="route_cfg_")
    cfg_path = os.path.join(cfg_dir, "config")
    v1 = pd.DataFrame(
        [("view", "insert", "dwd_page_log_v1", "k")],
        columns=["source_table", "operate_type", "sink_table", "sink_columns"],
    )
    v2 = pd.DataFrame(
        [
            ("view", "insert", "dwd_page_log_v2", "k"),
            ("click", "insert", "dwd_click_log", "k"),
        ],
        columns=["source_table", "operate_type", "sink_table", "sink_columns"],
    )
    spark.createDataFrame(v1).write.mode("overwrite").parquet(cfg_path)

    def after_batch(batch_id: int) -> None:
        if batch_id == 0:
            spark.createDataFrame(v2).write.mode("overwrite").parquet(cfg_path)

    out_dir = os.path.join(tempfile.mkdtemp(prefix="route_out_"), "routed")
    jobs.streaming_route_config_reload(
        spark, events_dir, cfg_path, out_dir, after_batch=after_batch
    )

    got = spark.read.parquet(out_dir).toPandas()
    b0 = got[got["batch_id"] == 0]
    b1 = got[got["batch_id"] == 1]
    # batch 0: v1 rules — only views, routed to v1 sink
    assert set(b0["sink_table"]) == {"dwd_page_log_v1"}
    assert set(b0["event_type"]) == {"view"}
    # batch 1: v2 rules — views retargeted AND clicks now routable
    assert set(b1["sink_table"]) == {"dwd_page_log_v2", "dwd_click_log"}
    assert set(b1[b1["event_type"] == "click"]["sink_table"]) == {"dwd_click_log"}
    # row-count cross-check against the raw halves
    half1 = t.slice(0, n // 2).to_pandas()
    half2 = t.slice(n // 2).to_pandas()
    assert len(b0) == (half1["event_type"] == "view").sum()
    assert len(b1) == half2["event_type"].isin(["view", "click"]).sum()


def test_session_checkpoint_commit_confs(spark):
    """get_spark checkpoints RocksDB state as changelogs and writes
    checkpoint files through the FileSystem-based manager, a class this
    Spark build has (a misspelt name would fail only at query start)."""
    from gmall_realtime_flink_spark.session import CHECKPOINT_FILE_MANAGER

    assert spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    ) == "true"
    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass"
    ) == CHECKPOINT_FILE_MANAGER
    spark._jvm.org.apache.spark.util.Utils.classForName(
        CHECKPOINT_FILE_MANAGER, True, False
    )


@pytest.mark.parametrize("provider", ["rocksdb", "hdfs"])
def test_stateful_checkpoint_recovery_across_restarts(
    spark, sf_dir, provider
):
    """State survives a QUERY RESTART, not just micro-batch boundaries:
    run the ST2 dedup stream to completion on half the data, stop,
    add the second half, and resume from the SAME checkpoint. A lost
    state store would re-emit first-visits already claimed in run 1;
    the union of both runs' outputs must equal the single-pass batch
    answer exactly.

    Parametrized over BOTH state-store providers (session.py
    STATE_STORE_PROVIDERS): RocksDB — the engine default, off-heap
    spillable state — and the HDFS-backed in-memory default. The
    providerClass conf binds at query start, so flipping it per-run
    on the shared session is exactly how a deployment would. On
    RocksDB the first run leaves changelog files only, so the restart
    replays changelogs, not a snapshot."""
    from gmall_realtime_flink_spark.session import STATE_STORE_PROVIDERS
    from gmall_realtime_flink_spark.streaming.state import uv_dedup_stream

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    orig_provider = spark.conf.get(conf_key)
    spark.conf.set(conf_key, STATE_STORE_PROVIDERS[provider])
    t, _mul, _max_ns, _ts_type = _events_sorted_native(sf_dir)
    n = t.num_rows
    src = tempfile.mkdtemp(prefix="events_restart_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_restart_")
    # memory sink can't recover from a checkpoint; the parquet sink's
    # commit log makes the restart exactly-once end-to-end
    out_dir = tempfile.mkdtemp(prefix="uv_restart_out_")

    def run():
        events = stream_events(spark, src, max_files_per_trigger=1)
        q = (
            uv_dedup_stream(events, key="user_id")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        p0 = os.path.join(src, "part-000.parquet")
        pq.write_table(t.slice(0, n // 2), p0)
        os.utime(p0, (1_700_000_000, 1_700_000_000))
        run()
        if provider == "rocksdb":
            # the session checkpoints RocksDB state as changelogs: the
            # restart below recovers from them alone, no snapshot zip
            names = [
                f for _, _, fs in os.walk(os.path.join(ckpt, "state"))
                for f in fs
            ]
            assert any(f.endswith(".changelog") for f in names), names
            assert not any(f.endswith(".zip") for f in names), names

        p1 = os.path.join(src, "part-001.parquet")
        pq.write_table(t.slice(n // 2), p1)
        os.utime(p1, (1_700_000_100, 1_700_000_100))
        # the stream's end: a far-future sentinel closes the last day
        # (its own day never closes, so it emits no row)
        p2 = os.path.join(src, "part-002-sentinel.parquet")
        jobs.write_sentinel_file(p2, jobs.SENTINEL_TS_NS, ts_type=_ts_type)
        os.utime(p2, (1_700_000_200, 1_700_000_200))
        run()
    finally:
        spark.conf.set(conf_key, orig_provider)

    got = sorted(
        (r["user_id"], r["visit_date"], r["first_ts"])
        for r in spark.read.parquet(out_dir).collect()
    )
    batch = load(spark, sf_dir, "events")
    want = sorted(
        tuple(r)
        for r in uv_dedup(batch, key="user_id", ts_col="ts")
        .select("user_id", "visit_date", "first_ts")
        .collect()
    )
    assert got == want


def test_state_bytes_per_key_regression_gate(spark, tmp_path):
    """State-size regression gate (VERDICT r12 item 7): SCALE.md's
    measured bytes/key (20-38 B/key SST for the stateful trio, ~26 B
    window/join state at sf1) were claims nothing enforced. This gate
    stages a synthetic 20k-user event stream (large enough that the
    state store's fixed overhead amortizes below the signal), runs
    each stateful operator bounded, and fails if RocksDB SST bytes
    per state row cross a family ceiling set ~2x the sf1 measurement
    — headroom for provider version noise, tight enough that a state
    schema regression (a retained raw row, an accidental list
    accumulator, a widened key) trips it."""
    import sys

    sys.path.insert(0, ".")
    from tools.audit_state import run_audited, summarize

    from gmall_realtime_flink_spark.operators.windows import tumble_agg
    from gmall_realtime_flink_spark.streaming.source import stream_events
    from gmall_realtime_flink_spark.streaming.state import (
        jump_detect_stream,
        repair_is_new_stream,
        uv_dedup_stream,
    )

    n_users, ev_per_user = 20_000, 2
    src = os.path.join(str(tmp_path), "events")
    (
        spark.range(n_users * ev_per_user)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % n_users).alias("user_id"),
            F.timestamp_micros(
                (F.lit(1_700_000_000_000_000)
                 + (F.col("id") % n_users) * 1_000_000
                 + (F.col("id") / n_users).cast("long") * 60_000_000)
            ).alias("ts"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        # far-future sentinel closes every window / fires every timer
        .unionByName(
            spark.sql(
                "SELECT -1 event_id, -1 user_id, "
                "timestamp'2030-01-01' ts, 'view' event_type, "
                "0.0 value, '{}' props"
            )
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(src)
    )

    CEILINGS = {  # RocksDB SST bytes per state row (sf1 measured ~2x)
        "uv_dedup": 50,
        "visitor_repair": 45,
        "user_jump": 80,
        "tumble_agg_10s": 120,
    }

    builders = {
        "uv_dedup": lambda e: uv_dedup_stream(e, key="user_id"),
        "visitor_repair": lambda e: repair_is_new_stream(e, key="user_id"),
        "user_jump": lambda e: jump_detect_stream(
            e, key="user_id", gap_ms=600_000
        ),
        "tumble_agg_10s": lambda e: tumble_agg(
            e,
            ts_col="ts",
            duration="10 seconds",
            keys=["user_id"],
            aggs=[F.count(F.lit(1)).alias("pv_ct")],
        ),
    }
    for name, build in builders.items():
        ev = stream_events(spark, src)
        op = summarize(name, run_audited(build(ev), spark))["operators"][0]
        rows, sst = op["state_rows"], op["rocksdb_sst_bytes"]
        assert rows >= n_users, (name, op)
        assert sst, f"{name}: the RocksDB provider reported no SST bytes ({op})"
        bpr = sst / rows
        assert bpr <= CEILINGS[name], (
            f"{name}: {bpr:.1f} SST B/row exceeds the {CEILINGS[name]} B "
            f"ceiling — state schema regression? ({op})"
        )
