"""Streaming sources (SURVEY §2.1 S1/S4).

The reference consumes Kafka topics (RT/utils/MyKafkaUtil.java:23-29);
the engine's source abstraction is format-agnostic: the same pipeline
code accepts a Kafka stream (`spark.readStream.format("kafka")` +
`from_json`) or — for tests and the driver testdata — a *file* stream
over the parquet tables. A bounded file stream is the Structured
Streaming analogue of a replayed topic: files arrive in listing order,
`maxFilesPerTrigger=1` forces multi-micro-batch execution, and the
event-time watermark governs state eviction exactly as it would on
Kafka.

`events.parquet` has two observed physical layouts across driver
testdata generations: TIMESTAMP(NANOS) — surfaced as a nanosecond long
under `spark.sql.legacy.parquet.nanosAsLong` and truncated to µs — and
TIMESTAMP(MICROS) with isAdjustedToUTC=false (TIMESTAMP_NTZ under
Spark 4 inference). The file stream needs an explicit schema: the
caller passes the source file's (catalog.parquet_schema, cached), or
we probe the footer with a one-off batch read (metadata only, no data
scan). `ts` is normalized to a session-UTC TIMESTAMP either way —
identical to the batch path in catalog.load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_realtime_flink_spark.catalog import ensure_nanos_as_long


def stream_events(
    spark: SparkSession,
    path: str,
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
    raw_schema: T.StructType | None = None,
) -> DataFrame:
    """S1/S4: event stream from a parquet file/dir with an event-time
    watermark (W1-W5: the reference uses 0-3 s bounded delays).
    `raw_schema` is the files' physical schema; probed when omitted.
    """
    ensure_nanos_as_long(spark)
    if raw_schema is None:
        raw_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if "value" in raw_schema.fieldNames():
        # measure quarantine, identical to batch catalog.load: a
        # non-finite `value` is NULL at the scan (money/ratio
        # consumers require finite inputs; see catalog.load)
        df = df.withColumn(
            "value",
            F.when(
                F.isnan("value") | (F.abs("value") == F.lit(float("inf"))),
                F.lit(None).cast("double"),
            ).otherwise(F.col("value")),
        )
    return df.withWatermark("ts", watermark)


EVENT_JSON_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, props string"
)


def stream_events_socket(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 9999,
    watermark: str = "0 seconds",
) -> DataFrame:
    """S1 over a NETWORK transport: the socket source is the nearest
    executable analogue of the Kafka wire path in this environment (no
    broker binary exists — streaming/kafka.py:12-17): a TCP byte
    stream of JSON lines, parsed with from_json against a declared
    schema, event-time watermark applied — exactly the
    readStream.format("kafka") + from_json pipeline shape
    (RT/utils/MyKafkaUtil.java:23-29 + JSON.parseObject at every
    consumer, e.g. RT/app/dwd/BaseLogAPP.java:64-70) with only the
    transport format string changed. Every downstream operator is
    source-agnostic, so tests driving this source through a DWS
    aggregate pin that ONLY the connector — not the DAG — differs
    from a Kafka deployment.

    Not for production scale-out (the socket source is
    single-connection, no offsets/replay — Spark docs mark it for
    testing); the Kafka source carries the same contract with
    partitioned offsets.
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    parsed = raw.select(
        F.from_json("value", EVENT_JSON_SCHEMA).alias("e")
    ).select("e.*")
    return parsed.withColumn("ts", F.to_timestamp("ts")).withWatermark(
        "ts", watermark
    )
