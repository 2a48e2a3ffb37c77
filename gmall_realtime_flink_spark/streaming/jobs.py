"""Bounded streaming-job runners.

Each runner starts a Structured Streaming query over the testdata
event stream with `availableNow` (process everything, then stop) and
returns the collected result as a batch DataFrame — the streaming
analogue of running the batch operator, used by both the driver
correctness gate and the parity tests.

A stream, by definition, never ends — so ST3's timeout for the final
event per key would never fire, and ST2's last day window never close,
on bounded input. `events_with_sentinel` appends one far-future event
(user_id = -1) so the watermark passes every real timeout and day; the
sentinel's own rows are filtered from the result. Spark's no-data
micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`, default
on) then emits them before the query stops.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_realtime_flink_spark.catalog import load, parquet_schema, table_path
from gmall_realtime_flink_spark.operators.joins import interval_join
from gmall_realtime_flink_spark.streaming.sinks import idempotent_batch_writer
from gmall_realtime_flink_spark.streaming.source import stream_events
from gmall_realtime_flink_spark.streaming.state import (
    jump_detect_stream,
    repair_is_new_stream,
    uv_dedup_stream,
)


def run_bounded(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    inputs: Iterable[str] = (),
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    `output_mode="complete"` is for unwatermarked streaming aggregates
    (e.g. the incremental dedup state), where the final emission IS the
    full result.

    Only the returned frame outlives the call: it holds the sink's rows
    itself, so the sink's session-wide temp view is dropped, and the
    checkpoint dir and the staged input dirs (`inputs`) are removed
    once the query has stopped. A repeated read leaves no table, dir or
    file behind."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        _remove(ckpt, *inputs)


def _remove(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def events_path(sf_dir: str) -> str:
    """Stage the events table as a streaming input *directory* (the file
    source requires one); the parquet file is symlinked, not copied."""
    tmp = tempfile.mkdtemp(prefix="events_stream_")
    # abspath: the symlink lives under /tmp, so a relative sf_dir
    # would otherwise dangle (resolved against the link's dir)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(tmp, "part-000.parquet"),
    )
    return tmp


# one sentinel row per type ANY branch filters on — including the
# reference-faithful 'cart'/'comment' union branches that are
# data-bounded empty (their pushed-down scans would otherwise never
# observe an event time and the min-policy global watermark would
# stall at zero)
SENTINEL_TYPES = (
    "view", "click", "signup", "cart", "purchase", "error", "comment",
    "sentinel",
)


def write_sentinel_file(path: str, ts_ns: int, ts_type=None) -> None:
    """Write the watermark-advancing sentinel rows (user_id = -1), one
    per real event type plus a 'sentinel' marker.

    The sentinel must survive EVERY predicate the query pushes below
    the EventTimeWatermark operator into the parquet scan, or the
    watermark never passes the final open window (found the hard way;
    see tests/test_streaming.py). Two pushdown classes bite:
    - explicit event-type filters → one sentinel row per type;
    - join-key null-rejection INFERRED by Catalyst (an inner join on
      get_json_object(props, '$.k') implies `props IS NOT NULL` at the
      scan) → props carries a valid JSON object with a key that can
      never join ({"k": -1}), not NULL.
    Downstream queries already drop sentinel *output* via the
    far-future stt cutoff, so the non-null props are inert there.

    `ts_type`: the SOURCE file's physical ts type (pyarrow) — the
    sentinel must match it exactly (int64 nanos for the legacy
    TIMESTAMP(NANOS) layout, timestamp[us] for the current one) or the
    file stream's single fixed schema rejects one of the two files."""
    n = len(SENTINEL_TYPES)
    if ts_type is not None and pa.types.is_timestamp(ts_type):
        unit_div = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[ts_type.unit]
        ts_arr = pa.array([ts_ns // unit_div] * n, ts_type)
    else:
        ts_arr = pa.array([ts_ns] * n, pa.int64())
    sentinel = pa.table(
        {
            "event_id": pa.array([-(i + 1) for i in range(n)], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([-1] * n, pa.int64()),
            "event_type": pa.array(list(SENTINEL_TYPES), pa.string()),
            "value": pa.array([0.0] * n, pa.float64()),
            "props": pa.array(['{"k": -1}'] * n, pa.string()),
        }
    )
    pq.write_table(sentinel, path)


# fixed far-future sentinel event time (testdata is all 2024): lets any
# downstream query separate real windows with `stt < SENTINEL_CUTOFF`
SENTINEL_TS_NS = 1_893_456_000_000_000_000  # 2030-01-01 UTC
SENTINEL_CUTOFF = "2029-01-01"


def fill_events_dir(out: str, sf_dir: str, gap_ms: int) -> None:
    """Stage events.parquet (symlinked) + sentinel events far past the
    max event time into the existing dir `out`, so every real ST3
    timeout fires and every real window closes."""
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    ts_col = pq.read_table(src, columns=["ts"])["ts"]
    ts_type = ts_col.type
    # empty source: no real event time to exceed — the fixed far-future
    # sentinel alone still advances the watermark so the (empty) run
    # terminates instead of crashing on max() of nothing
    raw_max = max(ts_col.cast("int64").to_pylist(), default=0)
    if pa.types.is_timestamp(ts_type):
        unit_mul = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[ts_type.unit]
        max_ns = raw_max * unit_mul
    else:
        max_ns = raw_max  # legacy layout: already nanos
    os.symlink(src, os.path.join(out, "part-000.parquet"))
    write_sentinel_file(
        os.path.join(out, "part-001-sentinel.parquet"),
        max(max_ns + 2 * gap_ms * 1_000_000, SENTINEL_TS_NS),
        ts_type=ts_type,
    )


def events_with_sentinel(
    spark: SparkSession, sf_dir: str, gap_ms: int
) -> str:
    """fill_events_dir into a fresh temp dir (the caller removes it)."""
    tmp = tempfile.mkdtemp(prefix="events_stream_")
    fill_events_dir(tmp, sf_dir, gap_ms)
    return tmp


def streaming_visitor_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 under Structured Streaming (rows-equal to the batch form)."""
    path = events_path(sf_dir)
    events = stream_events(spark, path)
    return run_bounded(
        repair_is_new_stream(events, key="user_id"), spark, inputs=[path]
    )


def streaming_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 under Structured Streaming; the sentinel closes the last day."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    out = run_bounded(
        uv_dedup_stream(events, key="user_id"), spark, inputs=[path]
    )
    return out.filter(~F.col("user_id").eqNullSafe(-1))


def streaming_user_jump(
    spark: SparkSession, sf_dir: str, gap_ms: int = 600_000
) -> DataFrame:
    """ST3 under Structured Streaming (event-time timeout CEP)."""
    path = events_with_sentinel(spark, sf_dir, gap_ms)
    events = stream_events(spark, path)
    out = run_bounded(
        jump_detect_stream(events, key="user_id", gap_ms=gap_ms),
        spark,
        inputs=[path],
    )
    # drop ONLY the sentinel key (-1). A plain `>= 0` also swallows
    # NULL user_ids (NULL comparison -> NULL -> filtered), silently
    # deleting the null-key group the stateful operator correctly
    # processed — caught by the adversarial-corpus gate (r8).
    return out.filter(~F.col("user_id").eqNullSafe(-1))


def warehouse_stream_schema(
    spark: SparkSession, sf_dir: str, table: str
) -> T.StructType:
    """readStream needs an explicit schema; take the real footer's
    (catalog.parquet_schema: probed once per file version) instead of
    hardcoding one, so whichever physical timestamp layout the testdata
    generation used is the one declared — a hardcoded TimestampNTZ
    schema breaks the day the generator flips back to nanos or
    adjusted-UTC micros (exactly how the events source broke in
    round 4)."""
    return parquet_schema(spark, table_path(sf_dir, table))


def ts_as_timestamp(raw_schema: T.StructType, name: str):
    """Session-UTC TIMESTAMP expression for a probed ts-ish column:
    nanos long → truncate to µs; NTZ / DATE / TIMESTAMP → plain cast
    (identical to the batch normalization in catalog.load)."""
    if isinstance(raw_schema[name].dataType, T.LongType):
        return F.timestamp_micros(F.expr(f"{name} div 1000"))
    return F.col(name).cast("timestamp")


def _link_table(out: str, sf_dir: str, table: str) -> None:
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, f"{table}.parquet")),
        os.path.join(out, "part-000.parquet"),
    )


def stage_table_dir(sf_dir: str, table: str) -> str:
    """Symlink one parquet table into a fresh streaming input dir."""
    tmp = tempfile.mkdtemp(prefix=f"{table}_stream_")
    _link_table(tmp, sf_dir, table)
    return tmp


# the two columns of an ODS fact table its far-future sentinel row
# restamps: the order key and the event date
FACT_SENTINEL_COLS = {
    "orders": ("o_orderkey", "o_orderdate"),
    "lineitem": ("l_orderkey", "l_shipdate"),
}


def _write_fact_sentinel(sf_dir: str, table: str, key: int, path: str) -> None:
    """Write one far-future sentinel row of an ODS fact table: a
    schema-true copy of its first row keyed `key` and dated 2030-01-01
    (as int64 nanos when the file stores the date as an integer). Key
    -1 on both sides makes the two sentinels join each other; a
    different key on one side keeps them apart. Reads ONE row group,
    not the table — lineitem at real SFs is GBs of Arrow."""
    pf = pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet"))
    row = pf.read_row_group(0).slice(0, 1).to_pandas()
    key_col, ts_col = FACT_SENTINEL_COLS[table]
    far = pd.Timestamp("2030-01-01")
    row[key_col] = key
    int_ts = pa.types.is_integer(pf.schema_arrow.field(ts_col).type)
    row[ts_col] = int(far.value) if int_ts else far
    pq.write_table(
        pa.Table.from_pandas(row, schema=pf.schema_arrow, preserve_index=False),
        path,
    )


def fill_table_dir(out: str, sf_dir: str, table: str, key: int = -1) -> None:
    """Stage one table (symlinked) + one far-future sentinel row
    (_write_fact_sentinel) into the existing dir `out`, so outer-join /
    timer state flushes before the bounded stream stops."""
    _link_table(out, sf_dir, table)
    _write_fact_sentinel(
        sf_dir, table, key, os.path.join(out, "part-001-sentinel.parquet")
    )


def stage_table_with_sentinel(sf_dir: str, table: str, key: int = -1) -> str:
    """fill_table_dir into a fresh temp dir (the caller removes it)."""
    tmp = tempfile.mkdtemp(prefix=f"{table}_stream_")
    fill_table_dir(tmp, sf_dir, table, key)
    return tmp


def fact_streams(
    spark: SparkSession, sf_dir: str, o_dir: str, l_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The orders and lineitem file streams over two staged dirs."""
    return tuple(
        spark.readStream.schema(warehouse_stream_schema(spark, sf_dir, t))
        .parquet(d)
        for t, d in (("orders", o_dir), ("lineitem", l_dir))
    )


def _fact_join(
    orders: DataFrame, lineitem: DataFrame, lower: str, upper: str,
    how: str = "inner",
) -> DataFrame:
    """orders ⋈ lineitem on the order key within an event-time band
    (operators.joins.interval_join). Under streaming both sides carry
    0 s watermarks, and Spark bounds the join state to watermark + band
    width — the Flink intervalJoin's keyed buffering state
    (OrderWideApp.java:144-152) for free."""

    def timed(df: DataFrame, ts_col: str, alias: str) -> DataFrame:
        return (
            df.withColumn(f"{alias}_ts", ts_as_timestamp(df.schema, ts_col))
            .withWatermark(f"{alias}_ts", "0 seconds")
            .alias(alias)
        )

    return interval_join(
        timed(orders, "o_orderdate", "o"),
        timed(lineitem, "l_shipdate", "l"),
        on=F.col("o.o_orderkey") == F.col("l.l_orderkey"),
        left_ts=F.col("o_ts"),
        right_ts=F.col("l_ts"),
        lower=lower,
        upper=upper,
        how=how,
    )


def order_wide(
    orders: DataFrame, lineitem: DataFrame, how: str = "inner"
) -> DataFrame:
    """J1/ST4, OrderWideApp (OrderWideApp.java:140-152): orders ⋈
    lineitem within [0, 30d] of the order date, projected to the wide
    row. The chain's DWM order-wide job and `streaming_order_wide(_left)`
    run this one body."""
    return _fact_join(orders, lineitem, "0 seconds", "30 days", how).select(
        "o.o_orderkey",
        "l.l_linenumber",
        "l.l_partkey",
        F.date_format("o_ts", "yyyy-MM-dd").alias("order_date"),
        F.date_format("l_ts", "yyyy-MM-dd").alias("ship_date"),
        F.round("o.o_totalprice", 2).alias("total_amount"),
        F.round("l.l_extendedprice", 2).alias("split_amount"),
    )


def payment_wide(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """J2, PaymentWideApp (PaymentWideApp.java:116-131, ±30 min there):
    the asymmetric band [-7d, +90d] — the right side buffers events up
    to 7 days *before* a matching left event. The chain's DWM
    payment-wide job and `streaming_payment_wide` run this one body."""
    from gmall_realtime_flink_spark.functions.compat import dec_round

    return _fact_join(orders, lineitem, "-7 days", "90 days").select(
        "o.o_orderkey",
        "l.l_linenumber",
        F.date_format("l_ts", "yyyy-MM-dd").alias("callback_date"),
        dec_round(
            F.col("l.l_extendedprice") * (1 - F.col("l.l_discount")), 2
        ).alias("payment_amount"),
    )


def keyword_stats(events: DataFrame, documents: DataFrame) -> DataFrame:
    """KeywordStatsApp (KeywordStatsApp.java:56-88): view events
    broadcast-joined to the documents' keywords (the tokenizer explode
    runs once per document, doc_keywords), then a 10 s tumble count per
    keyword. The chain's DWS keyword job and `streaming_keyword_stats`
    run this one body."""
    from gmall_realtime_flink_spark.operators.windows import tumble_agg
    from gmall_realtime_flink_spark.plans.gmall import doc_keywords

    kw = doc_keywords(documents)
    views = events.filter(F.col("event_type") == "view").withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    words = views.join(F.broadcast(kw), views["k"] == kw["doc_id"]).select(
        "ts", "keyword"
    )
    return tumble_agg(
        words,
        ts_col="ts",
        duration="10 seconds",
        keys=["keyword"],
        aggs=[F.count(F.lit(1)).alias("ct")],
    ).select("stt", "edt", "keyword", "ct", F.lit("SEARCH").alias("source"))


def streaming_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/ST4 on the real warehouse tables: orders ⋈ lineitem as two
    file streams, equi-key + [0, 30d] event-time band — the streaming
    form of the batch `order_wide` query (same oracle)."""
    dirs = [stage_table_dir(sf_dir, "orders"), stage_table_dir(sf_dir, "lineitem")]
    return run_bounded(
        order_wide(*fact_streams(spark, sf_dir, *dirs)), spark, inputs=dirs
    )


def streaming_cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+R2+P6 under streaming WITH the S3/R1 sink in the loop
    (RT/app/dwd/BaseDBApp.java:76-113): CDC stream -> ETL filter ->
    bootstrap-insert normalize -> broadcast config-table routing ->
    foreachBatch route_writer (one partitioned write fans out every
    sink_table, the dynamic-topic analogue). The returned frame is the
    fact layer READ BACK from disk — the oracle checks the roundtrip
    through the sink, not just the routing expression."""
    from gmall_realtime_flink_spark.operators.routing import (
        etl_filter,
        normalize_cdc_type,
        route_with_config,
    )
    from gmall_realtime_flink_spark.streaming.sinks import route_writer

    config = spark.createDataFrame(
        [
            ("view", "insert", "dwd_page_log", "k"),
            ("click", "insert", "dwd_display_log", "k"),
            ("signup", "update", "dim_user_info", ""),
            ("purchase", "insert", "dwd_order_info", "k"),
        ],
        ["source_table", "operate_type", "sink_table", "sink_columns"],
    )
    path = events_path(sf_dir)
    events = stream_events(spark, path)
    src = etl_filter(
        events, required=["props"], min_len_col="props", min_len=3
    ).withColumn(
        "op",
        F.when(F.col("event_type") == "view", "insert")
        .when(F.col("event_type") == "click", "bootstrap-insert")
        .when(F.col("event_type") == "signup", "update")
        .when(F.col("event_type") == "purchase", "insert")
        .otherwise("delete"),
    )
    routed = route_with_config(
        normalize_cdc_type(src, type_col="op"),
        config,
        source_col="event_type",
        type_col="op",
    ).select(
        "event_id",
        "event_type",
        F.col("op").alias("cdc_type"),
        "sink_table",
    )
    base = tempfile.mkdtemp(prefix="cdc_route_")
    fact_dir = os.path.join(base, "facts")
    q = (
        routed.filter(~F.col("sink_table").startswith("dim_"))
        .writeStream.foreachBatch(route_writer(fact_dir))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        # empty input -> route_writer never fired -> no parquet to infer
        # a schema from; an empty route run is still a valid (empty)
        # result
        if not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(fact_dir)
            for f in fs
        ):
            return spark.createDataFrame(
                [],
                "event_id long, event_type string, cdc_type string, "
                "sink_table string",
            )
        # held in the block store: the dirs go before the frame is read
        return (
            spark.read.parquet(fact_dir)
            .select("event_id", "event_type", "cdc_type", "sink_table")
            .localCheckpoint(eager=True)
        )
    finally:
        _remove(base, path)


def streaming_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/ST4 streaming: the PaymentWideApp asymmetric-band interval
    join on the warehouse tables as a stream-stream join — the
    streaming form of the batch `payment_wide` query (same oracle)."""
    dirs = [stage_table_dir(sf_dir, "orders"), stage_table_dir(sf_dir, "lineitem")]
    return run_bounded(
        payment_wide(*fact_streams(spark, sf_dir, *dirs)), spark, inputs=dirs
    )


def streaming_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 under Structured Streaming: the full ProductStats union
    pipeline on a watermarked stream, run bounded. Equals the batch
    `product_stats_union` query (same oracle)."""
    from gmall_realtime_flink_spark.plans.gmall import product_stats_union_core

    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    out = run_bounded(product_stats_union_core(events), spark, inputs=[path])
    # sentinel rows land only in far-future windows — the stt cutoff
    # alone removes them; real NULL-sku groups (props without '$.k')
    # must survive, matching the oracle's NULL-group semantics
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def streaming_product_stats_enriched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J4 under streaming: broadcast dim enrichment AFTER the streaming
    window aggregation — the reference joins dims onto the aggregated
    ProductStats stream (RT/app/dws/ProductStatsApp.java:318-397), the
    cheap ordering (|groups| rows hit the join, not |events|). In
    Spark this is a stream-static join downstream of the streaming agg,
    in the same query."""
    from gmall_realtime_flink_spark.plans.gmall import product_stats_union_core

    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    agg = product_stats_union_core(events)
    dim = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet")).select(
        F.col("s_suppkey"), F.col("s_name")
    )
    enriched = agg.join(
        F.broadcast(dim), agg["sku_id"] == dim["s_suppkey"], "left"
    ).select(
        "stt", "edt", "sku_id",
        F.col("s_name").alias("sku_name"),
        "click_ct", "order_ct", "order_amount",
    )
    out = run_bounded(enriched, spark, inputs=[path])
    # stt cutoff alone: keeps real NULL-sku groups (oracle keeps them too)
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def streaming_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3 under Structured Streaming: keyed 10 s tumble with an
    exact streaming-safe distinct count, size(collect_set) — exact
    countDistinct is unsupported on streaming aggs (SURVEY §7.3)."""
    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    agg = tumble_agg(
        events,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("pv_ct"),
            F.size(F.collect_set("user_id")).alias("uv_ct"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,4)")), 2
            ).cast("double").alias("dur_sum"),
        ],
    )
    out = run_bounded(agg, spark, inputs=[path])
    return out.filter(F.col("stt") < SENTINEL_CUTOFF).select(
        "stt", "edt", "event_type", "pv_ct", "uv_ct", "dur_sum"
    )


def streaming_visitor_stats_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows under Structured Streaming: window(ts, 30s,
    slide 10s) keyed by event_type — every event contributes to 3
    overlapping windows; state = open windows only, closed by
    watermark passage exactly as tumble windows. Distinct count as in
    every streaming distinct site (A3): size(collect_set)."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    agg = (
        events.groupBy(
            F.window("ts", "30 seconds", "10 seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.size(F.collect_set("user_id")).alias("uv_ct"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type",
            "pv_ct",
            "uv_ct",
        )
    )
    out = run_bounded(agg, spark, inputs=[path])
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def streaming_view_click_join(
    spark: SparkSession, sf_dir: str, window: str = "2 days"
) -> DataFrame:
    """ST4 under Structured Streaming: per-user view⋈click pairs where
    the click lands within `window` after the view (the OrderWideApp
    order⋈detail shape on the events table)."""
    path = events_path(sf_dir)
    views = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    clicks = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = interval_join(
        views,
        clicks,
        on=F.col("v_user") == F.col("c_user"),
        left_ts=F.col("v_ts"),
        right_ts=F.col("c_ts"),
        lower="0 seconds",
        upper=window,
    )
    out = run_bounded(
        joined.select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        ),
        spark,
        inputs=[path],
    )
    return out


def streaming_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+A4/A5 under streaming: the Flink-SQL-app shape
    (RT/app/dws/ProvinceStatsSqlApp.java:45-61, KeywordStatsApp.java:56-88)
    — a watermarked stream registered as a temp view, aggregated by a
    spark.sql TUMBLE with a streaming-safe distinct (A3),
    size(collect_set) — COUNT(DISTINCT) is unsupported on streaming
    aggs. The 2 s watermark is W5's bounded SQL delay. The SQL text is
    just another front-end: Catalyst compiles it to the same streaming
    physical plan as the DataFrame form."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path, watermark="2 seconds")
    agg = spark.sql(
        """
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               event_type,
               count(*) AS pv_ct,
               size(collect_set(user_id)) AS uv_ct,
               CAST(round(sum(CAST(value AS DECIMAL(28,4))), 2) AS DOUBLE)
                 AS amount
        FROM {events_stream}
        GROUP BY window(ts, '10 seconds'), event_type
        """,
        events_stream=events,
    )
    out = run_bounded(agg, spark, inputs=[path])
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def streaming_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeywordStatsApp under streaming (A5+F2): `keyword_stats` over the
    event stream — the full search-keyword DWS path."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    out = run_bounded(
        keyword_stats(events, load(spark, sf_dir, "documents")),
        spark,
        inputs=[path],
    )
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under Structured Streaming: per-user 10-minute
    inactivity-gap sessions via session_window + watermark. Sessions
    are the dynamic-gap window family tumble can't express; state =
    open sessions only, closed by watermark passage (the same eviction
    bound as tumble windows). Equals the batch `user_sessions` query
    on bounded input."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    agg = (
        events.groupBy(
            "user_id", F.session_window("ts", "10 minutes").alias("w")
        )
        .agg(F.count("*").alias("event_ct"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_ct",
        )
    )
    out = run_bounded(agg, spark, inputs=[path])
    # sentinel rows (user_id = -1) all land in one far-future session —
    # the stt cutoff drops exactly that
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def streaming_uv_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 via the built-in streaming dedup operator: dropDuplicates on
    (user_id, visit_date) — the idiomatic Spark form SURVEY §2.8 names
    next to the day-window aggregation (`state.uv_dedup_stream`).
    Output is the distinct key set (which physical row is kept is
    arrival-order-dependent, so only the keys are emitted —
    deterministic under any partitioning). State eviction note:
    built-in dedup state evicts only when the watermarked event-time
    column is part of the key; the day-window aggregation, which keeps
    the exact first (ts, event_id) and evicts each day once the
    watermark passes it, is the production path for day-bucketed
    keys."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    pairs = events.withColumn("visit_date", F.date_format("ts", "yyyy-MM-dd"))
    dedup = pairs.dropDuplicates(["user_id", "visit_date"]).select(
        "user_id", "visit_date"
    )
    out = run_bounded(dedup, spark, inputs=[path])
    return out.filter(F.col("visit_date") < SENTINEL_CUTOFF)


def streaming_uv_dropdup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 via dropDuplicatesWithinWatermark (Spark 3.5+): dedup state
    is bounded by the watermark delay even though the event-time column
    is NOT part of the key — the missing piece that makes built-in
    streaming dedup production-safe for unbounded keys (state for a
    user evicts `delay` after their last event, i.e. the reference's
    1-day TTL ValueState, RT/app/dwm/UniqueVisitApp.java:60-78,
    expressed as a built-in operator instead of hand-rolled state).
    The delay (2 days) exceeds the bounded input's span, so no key
    re-emits and the output equals batch DISTINCT — on an unbounded
    stream a key CAN legitimately re-emit after eviction, which is
    exactly the daily-UV re-count semantics."""
    path = events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path, watermark="2 days")
    dedup = events.dropDuplicatesWithinWatermark(["user_id"]).select(
        "user_id"
    )
    out = run_bounded(dedup, spark, inputs=[path])
    # null-safe sentinel drop: NULL is a real dedup key (one NULL-user
    # row emits, matching batch DISTINCT); `>= 0` would swallow it
    return out.filter(~F.col("user_id").eqNullSafe(-1))


def streaming_order_wide_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 as a stream-stream LEFT OUTER interval join — beyond the
    reference: Flink's intervalJoin is inner-only (OrderWideApp would
    need a CoProcessFunction + timer to emit unmatched orders); Spark
    emits the null-padded left rows natively once the watermark passes
    `o_ts + upper`, bounding state the same way. A far-future sentinel
    row per stream pushes the final watermark past every real order so
    the last unmatched rows flush on bounded input (the outer-join
    analogue of the ST3 timer sentinel); the lineitem sentinel is keyed
    -2 so it never joins the orders sentinel (-1)."""
    dirs = [
        stage_table_with_sentinel(sf_dir, "orders", key=-1),
        stage_table_with_sentinel(sf_dir, "lineitem", key=-2),
    ]
    out = run_bounded(
        order_wide(*fact_streams(spark, sf_dir, *dirs), how="left_outer"),
        spark,
        inputs=dirs,
    )
    return out.filter(F.col("o_orderkey") >= 0)


def streaming_route_config_reload(
    spark: SparkSession,
    events_dir: str,
    config_path: str,
    out_dir: str,
    after_batch=None,
) -> None:
    """S8's *dynamic* half — Flink's BroadcastProcessFunction keeps the
    routing config as broadcast state that an operator can update
    mid-stream (the reference polls MySQL table_process every 5 s,
    RT/app/func/TableProcessFunction.java:43-64). Spark analogue: the
    config table is re-read INSIDE foreachBatch, so each micro-batch
    joins the config as of its own processing time — update the config
    parquet between batches and later events route by the new rules.
    `maxFilesPerTrigger=1` makes file := micro-batch, and
    `after_batch(batch_id)` (called once a batch's write commits) is
    where a test swaps the config — the next batch then observes it,
    exactly like Flink's broadcast-state update between elements.
    """
    from gmall_realtime_flink_spark.operators.routing import (
        route_with_config,
    )

    events = stream_events(spark, events_dir, max_files_per_trigger=1)
    writer = idempotent_batch_writer(out_dir)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        config = spark.read.parquet(config_path)
        routed = route_with_config(
            batch_df.withColumn("op", F.lit("insert")),
            config,
            source_col="event_type",
            type_col="op",
        ).select("event_id", "event_type", "sink_table")
        writer(routed, batch_id)
        if after_batch is not None:
            after_batch(batch_id)

    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        events.writeStream.foreachBatch(write).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start().awaitTermination()
    finally:
        _remove(ckpt)


def streaming_purchase_dim_temporal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temporal (point-in-time) dim enrichment ON A STREAM: the
    purchase stream joins the STATIC SCD2 dim with the validity band
    as a residual predicate — Spark's native stream-static join, so
    each micro-batch sees the dim version that was valid at each
    event's event time (Flink's FOR SYSTEM_TIME AS OF processing-time
    analogue, but event-time-correct and replay-stable). Oracle = the
    batch purchase_dim_temporal_join SQL."""
    from pyspark.sql import Window

    path = events_path(sf_dir)
    events = stream_events(spark, path)
    # Load the static side through the catalog, which normalizes BOTH
    # observed physical layouts of events.ts (TIMESTAMP(NANOS)-as-long
    # and TIMESTAMP_NTZ micros) to session TIMESTAMP — a raw
    # spark.read.parquet would leave bigint nanos under the legacy
    # layout and the band predicate would fail to resolve.
    batch_events = load(spark, sf_dir, "events")
    signup = batch_events.filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = signup.select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("event_id").alias("version_event"),
    )
    p = events.filter(F.col("event_type") == "purchase")
    joined = p.join(
        F.broadcast(scd),
        (p["user_id"] == scd["s_user"])
        & (p["ts"] >= scd["valid_from"])
        & (scd["valid_to"].isNull() | (p["ts"] < scd["valid_to"])),
    ).select(
        "event_id",
        "user_id",
        "version_event",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "version_from"
        ),
    )
    return run_bounded(joined, spark, inputs=[path])
