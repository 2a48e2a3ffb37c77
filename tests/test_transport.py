"""Network-transport integration: the socket source through a DWS agg.

The Kafka connector cannot execute in this environment (no broker
binary — streaming/kafka.py:12-17), so this is the nearest executable
wire-run: an in-process TCP server replays the events fixture as JSON
lines, Spark consumes it with readStream.format("socket") +
from_json (streaming/source.stream_events_socket — the exact pipeline
shape of the Kafka source), and the visitor-stats tumble aggregate
over the NETWORK transport must equal the same aggregate over the
file transport. Passing documents that only the connector, not the
DAG, remains untested against real Kafka.
"""

from __future__ import annotations

import json
import socket
import threading
import time

from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load
from gmall_realtime_flink_spark.streaming.source import stream_events_socket


def _serve(lines: list[str], sock: socket.socket, done: threading.Event):
    conn, _ = sock.accept()
    try:
        conn.sendall(("\n".join(lines) + "\n").encode())
        # hold the connection open until the query is stopped — the
        # socket source treats a closed peer as a stream failure
        done.wait(timeout=180)
    finally:
        conn.close()
        sock.close()


def test_socket_transport_matches_file_transport(spark, sf_dir):
    from gmall_realtime_flink_spark.operators.windows import tumble_agg
    from gmall_realtime_flink_spark.streaming.jobs import (
        SENTINEL_CUTOFF,
        streaming_visitor_stats,
    )

    events = load(spark, sf_dir, "events")
    rows = events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).collect()
    lines = [json.dumps(r.asDict()) for r in rows]
    # far-future sentinel per event type (same watermark-advancing
    # pattern as the file source's sentinel file)
    for i, et in enumerate(["view", "click", "signup", "purchase", "error"]):
        lines.append(
            json.dumps(
                {
                    "event_id": -(i + 1),
                    "ts": "2030-01-01 00:00:00.000",
                    "user_id": -1,
                    "event_type": et,
                    "value": 0.0,
                    "props": '{"k": -1}',
                }
            )
        )

    sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    sock.bind(("127.0.0.1", 0))
    port = sock.getsockname()[1]
    sock.listen(1)
    done = threading.Event()
    server = threading.Thread(target=_serve, args=(lines, sock, done))
    server.start()

    stream = stream_events_socket(spark, port=port)
    agg = tumble_agg(
        stream,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("pv_ct"),
            F.size(F.collect_set("user_id")).alias("uv_ct"),
        ],
    ).select("stt", "edt", "event_type", "pv_ct", "uv_ct")
    q = (
        agg.writeStream.format("memory")
        .queryName("socket_vs")
        .outputMode("append")
        .start()
    )
    try:
        # the file-transport truth (pv/uv per 10 s window per type)
        want_df = streaming_visitor_stats(spark, sf_dir)
        want = sorted(
            (r["stt"], r["edt"], r["event_type"], r["pv_ct"], r["uv_ct"])
            for r in want_df.collect()
        )
        deadline = time.time() + 150
        expect = len(want)
        while time.time() < deadline:
            got_rows = spark.sql(
                f"SELECT * FROM socket_vs WHERE stt < '{SENTINEL_CUTOFF}'"
            ).collect()
            if len(got_rows) >= expect:
                break
            time.sleep(2)
    finally:
        q.stop()
        done.set()
        server.join(timeout=30)
    got = sorted(
        (r["stt"], r["edt"], r["event_type"], r["pv_ct"], r["uv_ct"])
        for r in got_rows
    )
    assert got == want


class _CollectServer:
    """TCP server collecting newline-delimited payloads from any number
    of connections (one per partition per micro-batch, exactly how the
    executor-side socket_sink connects)."""

    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.sock.listen(16)
        self.sock.settimeout(0.5)
        self.lines: list[str] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            try:
                conn, _ = self.sock.accept()
            except socket.timeout:
                continue
            buf = b""
            conn.settimeout(30)
            try:
                while True:
                    chunk = conn.recv(65536)
                    if not chunk:
                        break
                    buf += chunk
            finally:
                conn.close()
            with self._lock:
                self.lines.extend(
                    ln for ln in buf.decode().split("\n") if ln
                )

    def stop(self) -> list[str]:
        self._stop.set()
        self._thread.join(timeout=30)
        self.sock.close()
        with self._lock:
            return list(self.lines)


def _bounded_event_stream(spark, sf_dir, tmp_path, n=200):
    """A small bounded file stream of events (the sink tests' input)."""
    from pyspark.sql import functions as FF

    src = str(tmp_path / "sink_src")
    df = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(n)
        .select(
            "event_id",
            FF.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
    )
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    return df, stream


def test_socket_sink_matches_kafka_envelope(spark, sf_dir, tmp_path):
    """S2 over the wire: the fixed-topic sink's bytes received by a
    real TCP server equal kafka_envelope's value column exactly."""
    from gmall_realtime_flink_spark.streaming.kafka import (
        kafka_envelope,
        socket_sink,
    )

    batch_df, stream = _bounded_event_stream(spark, sf_dir, tmp_path)
    server = _CollectServer()
    q = socket_sink(
        stream,
        routes={"dwd_page_log": ("127.0.0.1", server.port)},
        checkpoint=str(tmp_path / "ckpt_s2"),
        topic="dwd_page_log",
    ).start()
    q.awaitTermination()
    got = sorted(server.stop())
    want = sorted(r["value"] for r in kafka_envelope(batch_df).collect())
    assert got == want and len(got) == 200


def test_socket_sink_dynamic_topic_routes(spark, sf_dir, tmp_path):
    """S3 over the wire: per-record topic routing — each topic's server
    receives exactly that route's kafka_envelope bytes (the network
    form of the dynamic-topic sink, BaseDBApp.java:96-113)."""
    from pyspark.sql import functions as FF

    from gmall_realtime_flink_spark.streaming.kafka import (
        kafka_envelope,
        socket_sink,
    )

    batch_df, stream = _bounded_event_stream(spark, sf_dir, tmp_path)
    route_col = FF.when(
        FF.col("event_type") == "view", FF.lit("dwd_view")
    ).otherwise(FF.lit("dwd_other"))
    stream = stream.withColumn("sink_table", route_col)
    batch_routed = batch_df.withColumn("sink_table", route_col)

    servers = {"dwd_view": _CollectServer(), "dwd_other": _CollectServer()}
    q = socket_sink(
        stream,
        routes={t: ("127.0.0.1", s.port) for t, s in servers.items()},
        checkpoint=str(tmp_path / "ckpt_s3"),
        topic_col="sink_table",
    ).start()
    q.awaitTermination()
    env = kafka_envelope(batch_routed, topic_col="sink_table")
    # byte-exact per route: nothing lost, nothing cross-routed (the
    # two want-sets partition the full envelope output)
    for t, server in servers.items():
        got = sorted(server.stop())
        want = sorted(
            r["value"] for r in env.filter(FF.col("topic") == t).collect()
        )
        assert got == want, t
        assert len(got) > 0, t
